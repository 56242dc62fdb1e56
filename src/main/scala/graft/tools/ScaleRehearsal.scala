package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.Tables

/** Round-7 scale rehearsal for the dedup family (VERDICT r6 item 6):
  * materialize a `factor`× documents corpus locally with the q104
  * epoch-replication pattern, run the three headline dedup queries at 1×
  * and factor×, and report wall time + shuffle read/write + spill per
  * run so SCALE.md carries measured scaling, not prose.
  *
  * Replicas are made TEXTUALLY DISTINCT (every token of an epoch>1 copy
  * gets an epoch prefix) so no shingles are shared across epochs: the
  * upsampled corpus has the same duplicate STRUCTURE per epoch shard,
  * i.e. candidate volume must scale ~linearly in `factor`. Verbatim
  * replication would instead multiply every dup cluster by `factor` and
  * grow the PAIR output quadratically — a different (adversarial)
  * workload, worth testing separately, not a scaling baseline.
  *
  * A second mode, `verbatim`, replicates texts UNCHANGED (fresh doc_ids)
  * — the adversarial shape: every document becomes a duplicate cluster
  * of size `factor`, so candidate and pair volumes grow ~factor²/2 per
  * cluster. This stresses the within-cluster quadratic path (the salted
  * bucket join + verify) rather than linear throughput.
  *
  * Usage: runMain graft.tools.ScaleRehearsal [baseDir] [factor] [workDir] [distinct|verbatim]
  */
object ScaleRehearsal {
  def main(args: Array[String]): Unit = {
    val baseDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val factor = if (args.length > 1) args(1).toInt else 10
    val work = if (args.length > 2) args(2) else "/tmp/graft_scale_rehearsal"
    val mode = if (args.length > 3) args(3) else "distinct"
    require(factor >= 2, s"factor must be >= 2, got $factor")
    require(mode == "distinct" || mode == "verbatim" || mode == "zipf",
      s"bad mode $mode")
    val spark = graft.GraftSession.local()

    // --- materialize the upsampled corpus (written once, reused) -----
    val docsOut = s"$work/documents.parquet"
    val marker = new java.io.File(s"$work/_UPSAMPLED_x${factor}_$mode")
    if (mode != "zipf" && !marker.exists()) {
      val t0 = System.nanoTime()
      val replicaText =
        if (mode == "verbatim") col("text")
        else when(col("epoch") === 1, col("text"))
          .otherwise(regexp_replace(col("text"), lit("(\\S+)"),
            concat(lit("e"), col("epoch").cast("string"), lit("$1"))))
      Tables.documents(spark, baseDir)
        .select(col("doc_id"), col("text"), col("lang"), col("source"),
          col("n_chars"), explode(sequence(lit(1), lit(factor))).as("epoch"))
        .select(
          (col("doc_id") * factor + col("epoch") - 1).as("doc_id"),
          replicaText.as("text"),
          col("lang"), col("source"), col("n_chars"))
        .write.mode("overwrite").parquet(docsOut)
      // embeddings too (q210's vector tower): replica ids aligned with
      // the document replication (doc_id·factor + epoch − 1), vectors
      // jittered per epoch (the AnnScaleRehearsal pattern) so no two
      // replicas are identical and the partial doc↔embedding coverage
      // ratio of the base corpus is preserved
      Tables.embeddings(spark, baseDir)
        .select(col("vec_id"), col("embedding"), col("label"),
          explode(sequence(lit(1), lit(factor))).as("epoch"))
        .select(
          (col("vec_id") * factor + col("epoch") - 1).as("vec_id"),
          expr("transform(embedding, (x, j) -> " +
            "CAST(x + (((epoch - 1) * 31 + j) % 7 - 3) * 0.001 AS FLOAT))")
            .as("embedding"),
          col("label"))
        .write.mode("overwrite").parquet(s"$work/embeddings.parquet")
      marker.getParentFile.mkdirs(); marker.createNewFile()
      println(f"[rehearsal] upsample x$factor ($mode) written in ${(System.nanoTime() - t0) / 1e9}%.1f s")
    }

    // shuffle + spill totals between resets
    val m = StageListener.attach(spark)

    // --- Zipf counterpart for q210's adversarial floor (VERDICT r9
    // item 5): the soup corpus's 31-term vocabulary at df ≈ 0.76·N is
    // the df-cut's worst case, argued away by prose until now. This
    // mode GENERATES a Zipfian-vocabulary corpus (word rank r drawn
    // with P ∝ 1/r via the inverse-CDF V^u; V = 5000, 30 words/doc,
    // all deterministic hash noise) at 1× and factor×, reuses the
    // base embeddings (jittered replicas at factor×) for the vector
    // tower, and records wall + shuffle + CANDIDATES PER QUERY for
    // q210 at both scales — the rarest-m/df-cut levers measured where
    // they are supposed to bite, next to the soup floor.
    if (mode == "zipf") {
      val zipfBase = s"$work/zipf1x"
      val zmarker = new java.io.File(s"$work/_ZIPF_x$factor")
      if (!zmarker.exists()) {
        def zipfDocs(nDocs: Long) = spark.range(nDocs).selectExpr(
          "id AS doc_id",
          "array_join(transform(sequence(0, 29), p -> concat('w', " +
            "CAST(floor(pow(5000.0, pmod(hash(id * 31 + p), 1000000) / 1000000.0)) AS INT))), ' ') AS text",
          "'en' AS lang", "concat('src', pmod(id, 4)) AS source")
          .withColumn("n_chars", length(col("text")))
        val nBase = Tables.documents(spark, baseDir).count()
        zipfDocs(nBase).write.mode("overwrite")
          .parquet(s"$zipfBase/documents.parquet")
        zipfDocs(nBase * factor).write.mode("overwrite")
          .parquet(s"$work/documents.parquet")
        Tables.embeddings(spark, baseDir).write.mode("overwrite")
          .parquet(s"$zipfBase/embeddings.parquet")
        Tables.embeddings(spark, baseDir)
          .select(col("vec_id"), col("embedding"), col("label"),
            explode(sequence(lit(1), lit(factor))).as("epoch"))
          .select((col("vec_id") * factor + col("epoch") - 1).as("vec_id"),
            expr("transform(embedding, (x, j) -> " +
              "CAST(x + (((epoch - 1) * 31 + j) % 7 - 3) * 0.001 AS FLOAT))")
              .as("embedding"),
            col("label"))
          .write.mode("overwrite").parquet(s"$work/embeddings.parquet")
        zmarker.getParentFile.mkdirs(); zmarker.createNewFile()
      }
      val out = new StringBuilder("{")
      // each corpus measured three ways: uncapped, the impact-ordered
      // per-term postings cap GENERATE-ONLY, and cap + verify-rerank
      // (candidates from the capped lists, survivors rescored exactly —
      // VERDICT r11 #5); "agreement" is the fraction of the uncapped
      // top-5 (qid, doc_id) pairs the capped run retains
      Seq("zipf_base" -> zipfBase, s"zipf_x$factor" -> work).foreach {
        case (tag, dir) =>
          var uncapped: Set[(Long, Long)] = Set.empty
          Seq(("", 0, false), ("_cap200", 200, false),
            ("_cap200_rerank", 200, true)).foreach { case (suffix, cap, rerank) =>
            if (cap > 0)
              spark.conf.set("spark.graft.hybrid.maxPostingsPerTerm", cap.toString)
            spark.conf.set("spark.graft.hybrid.capRerank", rerank.toString)
            m.reset()
            val t0 = System.nanoTime()
            val res = graft.operators.Hybrid
              .rrfFusion(spark, dir, k = 5, kCand = 10, queryMod = 10)
              .select(col("qid"), col("doc_id"))
              .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
            val sec = (System.nanoTime() - t0) / 1e9
            // the fusion's own stages only: the count query below adds its own
            val shuffleMb = m.total(_.shuffleRead) / 1e6
            val spillMb = m.total(_.diskSpill) / 1e6
            val cand = graft.operators.Hybrid
              .lexScoredCandidates(spark, dir, queryMod = 10,
                maxDfFrac = 0.85, maxQueryTerms = 8, k1 = 1.2, b = 0.75)
              .groupBy(col("qid")).agg(count(lit(1)).as("c"))
              .agg(avg(col("c")).as("avg"), max(col("c")).as("max")).head()
            val key = s"$tag/q210_hybrid_rrf$suffix"
            val agree = if (cap == 0) { uncapped = res; 1.0 }
              else res.intersect(uncapped).size.toDouble / math.max(1, uncapped.size)
            val line = f"""\"$key\":{\"sec\":$sec%.2f,\"rows\":${res.size},""" +
              f"""\"shuffle_read_mb\":$shuffleMb%.1f,\"spill_mb\":$spillMb%.1f,""" +
              f"""\"cand_per_query_avg\":${cand.getDouble(0)}%.0f,\"cand_per_query_max\":${cand.getLong(1)},""" +
              f"""\"agreement_vs_uncapped\":$agree%.3f}"""
            println(s"[rehearsal] $line")
            out.append(line).append(",")
            spark.conf.unset("spark.graft.hybrid.maxPostingsPerTerm")
            spark.conf.unset("spark.graft.hybrid.capRerank")
          }
      }
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$work/rehearsal_zipf.json"),
        out.dropRight(1).append("}").toString + "\n")
      spark.stop()
      return
    }

    val queries: Seq[(String, String => DataFrame)] = Seq(
      "q59_sketch_dedup" -> (d => graft.operators.Dedup.sketchDedupSurvivors(spark, d, 0.8)),
      "q64_dup_clusters" -> (d => graft.operators.Dedup.dupClusters(spark, d, 0.8)),
      "q132_heavy_hitters" -> (d => graft.operators.TextAnalysis.heavyHitters(spark, d, 1000)),
      // the prefix-filter claim, measured: q170 vs the full-explode
      // join at IDENTICAL semantics (n=3, tau=0.5) — the shuffle-byte
      // ratio is the candidate bound paying off (or not) at scale
      "q170_prefix_jaccard" -> (d => graft.operators.Dedup.prefixFilterJaccard(spark, d, 3, 1, 2)),
      "q53_full_jaccard_n3" -> (d => graft.operators.Dedup.ngramJaccard(spark, d, 3, 0.5)),
      // fixed-size-sketch scaling: shuffle stays <= m rows per partition
      // whatever the corpus (the q167 scale story, measured)
      "q167_hll_registers" -> (d => graft.operators.TextAnalysis.hllFill(spark,
        graft.operators.TextAnalysis.hllRegisterDeltas(
          Tables.documents(spark, d), "text", 256), 256)),
      // per-doc repetition profile: tokenize→gram-count keyed by doc_id,
      // the no-cross-doc-state linear path — time AND shuffle bytes must
      // scale ~factor
      "q182_repetition_filter" -> (d => graft.operators.TextAnalysis
        .repetitionProfile(Tables.documents(spark, d), 0.20, 0.15)),
      // the COMPOSED curation chain (q193): 8 checkpointed stages in a
      // throwaway workDir — the product-shaped end-to-end number; its
      // scaling is bounded by its worst stage (the q59/q64 sketch
      // machinery above), everything else is linear per-doc work
      "q193_curation_pipeline" -> (d => graft.plans.CurationPipeline
        .runManifest(spark, d, withClassifier = false, budget = 60)),
      // the STREAMED curation twin end-to-end (3 mod-slice batches +
      // read-time manifest): per-trigger cost is two state+batch
      // merges by construction; this row measures the whole drained
      // composition against q193's one-shot number at both scales
      "q198_streamed_curation" -> (d => graft.plans.CurationPipeline
        .streamedManifest(spark, d, nBatches = 3, budget = 60)),
      // tokenizer APPLY (q196) and training-shard emit (q201): train is
      // vocabulary-bounded, encode is k chained replaces over the
      // DISTINCT-WORD relation + two keyed re-assembly shuffles — time
      // and shuffle must scale ~linearly in the corpus (the distinct
      // mode grows the vocabulary ~factor× too, the worst case for the
      // word-keyed join)
      "q196_bpe_encode" -> (d => graft.operators.TextAnalysis.bpeEncodeDocs(
        Tables.documents(spark, d),
        graft.operators.TextAnalysis.bpeModel(spark, d, 6))),
      "q201_training_sequences" -> (d => graft.operators.TextAnalysis
        .packedSequencesBpe(spark, d, budget = 2048L, k = 6)),
      // LM perplexity tier (q206/q208): model relations are
      // reference-slice-n-gram-bounded (and the distinct mode grows the
      // vocabulary ~factor× — the worst case), scoring is two
      // corpus-linear shuffles; q208 runs the path twice (target + raw)
      "q206_lm_perplexity" -> (d => graft.operators.LanguageModel
        .docSurprisal(spark, d)),
      "q208_importance" -> (d => graft.operators.LanguageModel
        .importanceWeights(spark, d)),
      // hybrid retrieval (q210): lexical candidates are Σ df(t)·qf(t)
      // over df-cut terms (corpus-linear per query on Zipf data),
      // per-query heaps bound the shuffle; the vector tower rides the
      // q181 router
      "q210_hybrid_rrf" -> (d => graft.operators.Hybrid
        .rrfFusion(spark, d, k = 5, kCand = 10, queryMod = 10)),
      // hard negatives (q211): at 10× the embeddings cross the exact
      // cutoff, so THIS rehearsal exercises the routed IVF candidate
      // scorer — the production plan, not the labeled baseline
      "q211_hard_negatives" -> (d => graft.operators.Similarity
        .hardNegatives(spark, d, nNeg = 5, queryMod = 10)),
      // token chunking (q212): one encode pass + per-row lateral
      // explode; fan-out ≈ corpus_tokens/stride, no extra shuffle
      "q212_token_chunks" -> (d => graft.operators.TextAnalysis
        .chunkTokensBpe(graft.Tables.documents(spark, d),
          graft.operators.TextAnalysis.bpeModel(spark, d, 6), 16, 12)
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n_chunks"))),
      // seeded shuffle (q213): per-row affine perm + per-shard sorts
      "q213_seeded_shuffle" -> (d => graft.plans.Scale
        .seededShuffleAssign(graft.Tables.documents(spark, d), "doc_id",
          shards = 8, seed = 42L)
        .groupBy(col("shard")).agg(count(lit(1)).as("n_docs"))),
      // length batching (q214): encode + shard assign + per-(shard,
      // bucket) windows — every sort is N/S-bounded, never global
      "q214_length_batching" -> (d => graft.operators.TextAnalysis
        .lengthBucketedBatches(spark, d, k = 6, shards = 8, seed = 42L,
          batchSize = 8, bucketWidth = 32)),
      // span corruption (q215): token-position explode filtered to
      // ~1/rateInv anchors, then per-doc island windows — corpus-linear
      "q215_span_corruption" -> (d => graft.operators.TextAnalysis
        .spanCorruptionPlan(graft.Tables.documents(spark, d),
          graft.operators.TextAnalysis.bpeModel(spark, d, 6),
          seed = 42L, rateInv = 20, maxSpan = 5)
        .groupBy(lit(1)).agg(sum(col("n_masked")).as("masked"),
          sum(col("n_tokens")).as("toks"))),
      // waterfilling (q216): one corpus-scale groupBy (over the shared
      // encode pass); windows/aggs after run on the source catalog
      "q216_waterfill_alloc" -> (d => graft.operators.TextAnalysis
        .waterfillAllocation(spark, d, budgetTokens = 2500000L,
          maxEpochs = 2, k = 6)),
      // cluster reps (q217): the q64 CC pipeline + one length join +
      // per-cluster windows (cluster-bounded, never corpus-global)
      "q217_cluster_reps" -> (d => graft.operators.Dedup
        .clusterRepresentatives(spark, d, 0.8)
        .groupBy(lit(1)).agg(sum(when(col("keep"), 1L)).as("kept"),
          count(lit(1)).as("n"))),
      // epoch manifest (q218): the allocation (catalog) + two-level
      // per-source prefix sums — per-(source, shard) windows only
      "q218_epoch_manifest" -> (d => graft.operators.TextAnalysis
        .epochManifest(spark, d, budgetTokens = 2500000L, maxEpochs = 2,
          k = 6, seed = 42L)
        .groupBy(col("epoch")).agg(count(lit(1)).as("n_docs"),
          sum(col("n_tok")).as("n_tok"))),
      // containment matrix (q219): verified-pair substrate + two
      // corpus-linear label joins; matrix aggregation is catalog²
      "q219_source_containment" -> (d => graft.operators.Dedup
        .sourceContainment(spark, d, 0.8)),
      // pca (q220/q221 share the covariance): per-row d² products in
      // one codegen stage, d²-key aggregate, d×d driver eigensolve,
      // then the corpus-linear projection pass
      "q221_pca_projection" -> (d => graft.operators.Embedding
        .pcaProjection(spark, d, iters = 8)
        .groupBy(lit(1)).agg(count(lit(1)).as("n"),
          sum(when(col("score") > 0, 1L)).as("n_pos"))))

    // optional 5th arg: comma-separated name prefixes to run a subset
    // (a new-operator rehearsal need not re-measure the whole family)
    val only: Option[Set[String]] =
      if (args.length > 4) Some(args(4).split(",").toSet) else None
    val selected = queries.filter { case (n, _) =>
      only.forall(_.exists(n.startsWith)) }

    // warm-up so JIT/codegen startup lands outside both measured scales
    Tables.documents(spark, baseDir).count()

    val out = new StringBuilder("{")
    Seq("base" -> baseDir, s"x$factor" -> work).foreach { case (tag, dir) =>
      selected.foreach { case (name, fn) =>
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
        m.reset()
        val t0 = System.nanoTime()
        val rows = fn(dir).count()
        val sec = (System.nanoTime() - t0) / 1e9
        val line = f"""\"$tag/$name\":{\"sec\":$sec%.2f,\"rows\":$rows,""" +
          f"""\"shuffle_write_mb\":${m.total(_.shuffleWrite) / 1e6}%.1f,\"shuffle_read_mb\":${m.total(_.shuffleRead) / 1e6}%.1f,""" +
          f"""\"spill_mb\":${m.total(_.diskSpill) / 1e6}%.1f}"""
        println(s"[rehearsal] $line")
        out.append(line).append(",")
        if (name.startsWith("q210")) {
          // the candidates-per-query column for THIS corpus (the soup
          // floor) — same metric the zipf mode records, so SCALE.md can
          // put both corpora in one table
          val cand = graft.operators.Hybrid
            .lexScoredCandidates(spark, dir, queryMod = 10,
              maxDfFrac = 0.85, maxQueryTerms = 8, k1 = 1.2, b = 0.75)
            .groupBy(col("qid")).agg(count(lit(1)).as("c"))
            .agg(avg(col("c")).as("avg"), max(col("c")).as("max")).head()
          val cline = f"""\"$tag/q210_candidates\":{\"cand_per_query_avg\":${cand.getDouble(0)}%.0f,""" +
            f"""\"cand_per_query_max\":${cand.getLong(1)}}"""
          println(s"[rehearsal] $cline")
          out.append(cline).append(",")
        }
      }
    }
    val json = out.dropRight(1).append("}").toString
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$work/rehearsal.json"), json + "\n")
    spark.stop()
  }
}
