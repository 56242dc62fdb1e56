package graft

import org.apache.spark.sql.functions._
import graft.operators.{Ann, Embedding}

/** GraftConf is live configuration, not documentation: every knob must
  * observably change the operator it claims to drive (the reference's
  * env-driven knobs, /root/reference/.env:4-11, app/main.py:31-58). */
class GraftConfSpec extends SparkSpec {

  /** Run `body` with a spark.graft.* conf temporarily set, restoring the
    * previous value (or unsetting) afterwards so the shared session stays
    * clean for other suites. */
  private def withConf[A](key: String, value: String)(body: => A): A = {
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body
    finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None    => spark.conf.unset(key)
      }
      Ann.clearCaches()
    }
  }

  test("spark.graft.embedding.dim drives the embedding width") {
    withConf("spark.graft.embedding.dim", "32") {
      val e = Embedding.embed(spark, sfTiny).limit(5).collect()
      assert(e.nonEmpty && e.forall(_.getSeq[Double](1).length == 32))
    }
    // default (no conf) is the reference's 384 (SURVEY: all-MiniLM-L6-v2)
    assert(GraftConf.embeddingDim(spark) == 384)
  }

  test("spark.graft.ivf.cells drives the KMeans quantizer (fresh fit per conf)") {
    withConf("spark.graft.ivf.cells", "5") {
      Ann.clearCaches()
      val (assigned, centroids) = Ann.ivfIndex(spark, sfTiny)
      assert(centroids.count() == 5)
      assert(assigned.select(col("centroid_id")).distinct().count() <= 5)
    }
  }

  test("lsh bucketLength is threaded to the fit: sweep changes candidate volume") {
    // threshold -1 turns the verify filter off, so the pair count IS the
    // candidate count — the quantity the bucketLength knob exists to tune.
    // Before the r3 plumbing fix, every setting produced identical counts
    // (lshHashBuckets dropped the parameter on the floor).
    def candidates(bl: Double): Long = {
      Ann.clearCaches()
      Ann.lshNearDupTuned(spark, sfTiny, threshold = -1.0, bucketLength = bl).count()
    }
    val wide = candidates(10.0) // giant buckets: everything collides
    val narrow = candidates(0.05) // tiny buckets: few collisions
    Ann.clearCaches()
    assert(wide > narrow,
      s"bucketLength had no effect: wide=$wide narrow=$narrow")
  }

  test("spark.graft.lsh.numHashTables drives the banding") {
    withConf("spark.graft.lsh.numHashTables", "2") {
      Ann.clearCaches()
      val perId = Ann.lshHashBuckets(spark, sfTiny,
          Tables.embeddings(spark, sfTiny).select(col("vec_id"), col("embedding")))
        .groupBy(col("vec_id")).count().select(max(col("count"))).head().getLong(0)
      assert(perId == 2, s"expected 2 bucket rows per id, got $perId")
    }
  }

  test("minhash band shape drives candidate volume (1-row bands loosest)") {
    // collision prob per band is J^bandRows: bandRows=1 admits any shared
    // per-function minimum, bandRows=funcs requires identical signatures.
    def candidates(bandRows: Int): Long =
      withConf("spark.graft.minhash.bandRows", bandRows.toString) {
        operators.Dedup.minhashCandidatePairs(spark, sfTiny).count()
      }
    val loose = candidates(1)
    val strict = candidates(8)
    assert(loose > strict,
      s"minhash.bandRows had no effect: 1-row=$loose 8-row=$strict")
  }

  test("spark.graft.minhash.funcs drives the signature length") {
    withConf("spark.graft.minhash.funcs", "3") {
      withConf("spark.graft.minhash.bandRows", "3") {
        // 3 funcs / 3 rows = 1 band: runs end-to-end with the odd shape
        assert(operators.Dedup.minhashCandidatePairs(spark, sfTiny).count() > 0)
      }
    }
    // non-divisible shape is rejected loudly, not silently truncated
    withConf("spark.graft.minhash.funcs", "8") {
      withConf("spark.graft.minhash.bandRows", "3") {
        intercept[IllegalArgumentException] {
          operators.Dedup.minhashCandidatePairs(spark, sfTiny)
        }
      }
    }
  }

  test("spark.graft.simhash.bands drives candidate volume without changing the radius-3 answer") {
    def run(bands: Int): (Long, Set[(Long, Long)]) =
      withConf("spark.graft.simhash.bands", bands.toString) {
        val cand = operators.Dedup.simhashCandidates(spark, sfTiny).count()
        val pairs = operators.Dedup.simhashPairs(spark, sfTiny)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        (cand, pairs)
      }
    val (cand4, pairs4) = run(4)
    val (cand8, pairs8) = run(8)
    assert(cand8 > cand4, s"simhash.bands had no effect: 8=$cand8 4=$cand4")
    // both shapes are >= 4 bands, so both are pigeonhole-complete at
    // Hamming <= 3: the verified answer must be identical
    assert(pairs4 == pairs8,
      s"radius-3 answer changed with band count: ${pairs4.size} vs ${pairs8.size}")
  }

  test("spark.graft.pq.m drives the code length (and must divide the dim)") {
    withConf("spark.graft.pq.m", "4") {
      Ann.clearCaches()
      val idx = Ann.pqIndex(spark, sfTiny)
      assert(idx.m == 4 && idx.sub * 4 == idx.sub * idx.m)
      val codes = Tables.embeddings(spark, sfTiny).limit(1)
        .select(graft.functions.PqKernels.pqEncodeFast(
          graft.functions.PqKernels.l2NormalizeFast(col("embedding")),
          typedLit(idx.codebook.toSeq), idx.m, idx.k).as("c"))
        .head().getSeq[Int](0)
      assert(codes.length == 4)
    }
    withConf("spark.graft.pq.m", "7") { // 7 does not divide 64
      Ann.clearCaches()
      intercept[IllegalArgumentException] { Ann.pqIndex(spark, sfTiny) }
    }
    Ann.clearCaches()
  }

  test("spark.graft.index.buckets drives the stage-3 table bucket spec") {
    val work = java.nio.file.Files.createTempDirectory("graft_bucket_conf").toString
    withConf("spark.graft.index.buckets", "3") {
      JobPipeline.run(spark, sfTiny, work, threshold = 0.5)
      val table = new plans.Pipeline(spark, work).bucketedTableName("s3_index")
      val ddl = spark.sql(s"SHOW CREATE TABLE $table").head().getString(0)
      assert(ddl.contains("INTO 3 BUCKETS"), s"bucket spec missing:\n$ddl")
    }
  }

  test("fit-time conf changes re-fit mid-session instead of reusing a stale model") {
    // the model-cache key must include every fit parameter: after a conf
    // change the SAME session must produce a fresh fit, not silently
    // return the model fit under the old parameters
    Ann.clearCaches()
    val before = Ann.ivfIndex(spark, sfTiny)
    withConf("spark.graft.ivf.maxIter", "1") {
      val after = Ann.ivfIndex(spark, sfTiny)
      assert(!(after._1 eq before._1),
        "conf change returned the cached model fit under the old maxIter")
    }
  }

  test("spark.graft.join.salts drives the q108 salt fan-out without changing results") {
    def run() = Registry.byName("q108_salted_join").run(spark, sfTiny)
    val base = run().collect().map(_.toSeq).toSet
    withConf("spark.graft.join.salts", "3") {
      val df = run()
      assert(df.collect().map(_.toSeq).toSet == base,
        "salt fan-out changed the join result")
      // the replicated dim side must now carry exactly 3 salts
      // the dim-side sequence folds to an opaque array literal, so the
      // conf-driven fan-out is asserted on the fact side's pmod divisor
      val plan = df.queryExecution.optimizedPlan.toString
      assert("pmod\\(hash\\([^)]*\\), 3\\)".r.findFirstIn(plan).isDefined,
        s"fact-side salt not driven by conf:\n$plan")
    }
  }

  test("kNN auto-router: every branch reachable by conf; routed tiers hold the recall gate") {
    import operators.Similarity
    val st = plans.TableStats.embeddings(spark, sfTiny)
    // pure decision function: branch reachability by conf alone
    assert(Similarity.knnTier(spark, st.rows, st.bytes) == "exact",
      "test corpus sits under the exact cutoff by default")
    withConf("spark.graft.knn.exactCutoff", "0") {
      assert(Similarity.knnTier(spark, st.rows, st.bytes) == "nsw",
        "past the cutoff the measured sub-linear tier is NSW")
    }
    Seq("exact", "ivf", "nsw").foreach { forced =>
      withConf("spark.graft.knn.tier", forced) {
        assert(Similarity.knnTier(spark, st.rows, st.bytes) == forced)
      }
    }
    // end-to-end: each routed tier's result vs ground truth
    def pairs(df: org.apache.spark.sql.DataFrame) = df
      .select(col("qid"), col("nid")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(Similarity.knnExact(spark, sfTiny, k = 2, queryMod = 10))
    assert(exact.nonEmpty)
    assert(pairs(Similarity.knnAuto(spark, sfTiny, k = 2, queryMod = 10)) == exact,
      "default route must BE the exact answer at this scale")
    Seq("ivf", "nsw").foreach { forced =>
      val got = withConf("spark.graft.knn.tier", forced) {
        pairs(Similarity.knnAuto(spark, sfTiny, k = 2, queryMod = 10))
      }
      val recall = got.intersect(exact).size.toDouble / exact.size
      assert(recall >= 0.9, s"$forced tier recall $recall (${exact.size} pairs)")
    }
  }

  test("exactPairCutoff routes the auto pair search") {
    // tiny corpus, cutoff 0 -> LSH path; huge cutoff -> exact path.
    // Both must agree on the pair set at this scale (recall gate).
    val exact = withConf("spark.graft.pairs.exactCutoff", Long.MaxValue.toString) {
      operators.Similarity.nearDupPairsAuto(spark, sfTiny, 0.35)
        .select(col("id1"), col("id2")).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    val lsh = withConf("spark.graft.pairs.exactCutoff", "0") {
      operators.Similarity.nearDupPairsAuto(spark, sfTiny, 0.35)
        .select(col("id1"), col("id2")).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    assert(exact.nonEmpty)
    val recall = lsh.intersect(exact).size.toDouble / exact.size
    assert(recall >= 0.99, s"LSH path recall $recall vs exact (${exact.size} pairs)")
  }

  test("auto pair router reaches all four tiers; every tier holds the recall gate") {
    import operators.Similarity
    val st = plans.TableStats.embeddings(spark, sfTiny)
    // the decision is a pure function of stats + conf: every branch
    // must be reachable by conf alone (round-6 advice item 3)
    withConf("spark.graft.pairs.exactCutoff", Long.MaxValue.toString) {
      assert(Similarity.pairTier(spark, st.rows, st.bytes, 0.35) == "exact")
    }
    withConf("spark.graft.pairs.exactCutoff", "0") {
      assert(Similarity.pairTier(spark, st.rows, st.bytes, 0.6) == "lsh",
        "tight threshold above the exact cutoff must route plain LSH")
      assert(Similarity.pairTier(spark, st.rows, st.bytes, 0.35) == "multiprobe-lsh",
        "loose threshold must route multi-probe LSH")
      withConf("spark.graft.pairs.ivfRowCutoff", "0") {
        assert(Similarity.pairTier(spark, st.rows, st.bytes, 0.35) == "ivf",
          "row count above the IVF cutoff must route IVF")
      }
    }
    // end-to-end: the two tiers the older tests don't already cover
    // (exact/lsh have their own routing tests below) agree with the
    // exact pair set at this scale
    def pairs(df: org.apache.spark.sql.DataFrame) = df
      .select(col("id1"), col("id2")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(Similarity.nearDupPairs(spark, sfTiny, 0.35))
    assert(exact.nonEmpty)
    val viaMultiProbe = withConf("spark.graft.pairs.exactCutoff", "0") {
      pairs(Similarity.nearDupPairsAuto(spark, sfTiny, 0.35))
    }
    val viaIvf = withConf("spark.graft.pairs.exactCutoff", "0") {
      withConf("spark.graft.pairs.ivfRowCutoff", "0") {
        pairs(Similarity.nearDupPairsAuto(spark, sfTiny, 0.35))
      }
    }
    val mpRecall = viaMultiProbe.intersect(exact).size.toDouble / exact.size
    val ivfRecall = viaIvf.intersect(exact).size.toDouble / exact.size
    assert(mpRecall >= 0.9, s"multi-probe tier recall $mpRecall (${exact.size} pairs)")
    assert(ivfRecall >= 0.9, s"IVF tier recall $ivfRecall (${exact.size} pairs)")
  }

  test("auto pair search reads the stats relation: byte cutoff can refuse exact") {
    // the decision consumes TableStats (footer rows + fs bytes), not a
    // bare count: with rows far under the row cutoff, shrinking ONLY the
    // byte cutoff below the corpus size must flip the route to LSH
    val st = plans.TableStats.embeddings(spark, sfTiny)
    assert(st.rows > 0 && st.bytes > 0, "stats relation empty")
    assert(st.avgRowBytes > 0)
    val cnt = spark.read.parquet(s"$sfTiny/embeddings.parquet").count()
    assert(st.rows == cnt, "footer row count diverges from scan count")
    val viaBytes = withConf("spark.graft.pairs.exactCutoff", Long.MaxValue.toString) {
      withConf("spark.graft.pairs.exactMaxBytes", (st.bytes - 1).toString) {
        operators.Similarity.nearDupPairsAuto(spark, sfTiny, 0.35)
          .queryExecution.analyzed.toString
      }
    }
    // the LSH plan hashes into (ht, bucket) relations; the exact plan is
    // a self-join with no bucket column anywhere
    assert(viaBytes.contains("bucket"),
      s"byte cutoff did not flip route to LSH:\n$viaBytes")
  }

  test("spark.graft.hybrid.maxPostingsPerTerm caps the lexical tower's candidates (impact-ordered)") {
    def cands() = operators.Hybrid.lexScoredCandidates(spark, sfTiny,
      queryMod = 10, maxDfFrac = 0.85, maxQueryTerms = 8, k1 = 1.2, b = 0.75)
    def pairs() = cands().select("qid", "did")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val base = pairs()
    assert(base.nonEmpty)
    // a cap above every df must be a no-op (bit-identical candidates)
    val wide = withConf("spark.graft.hybrid.maxPostingsPerTerm", "1000000") { pairs() }
    assert(wide == base, "over-wide cap changed the candidate set")
    // a tight cap must bound per-query candidates by maxQueryTerms*cap
    // and strictly shrink the relation on the soup corpus (df ~ 0.76*N)
    val capped = withConf("spark.graft.hybrid.maxPostingsPerTerm", "5") {
      cands().groupBy("qid").count().collect().map(_.getLong(1))
    }
    assert(capped.nonEmpty && capped.forall(_ <= 8 * 5),
      s"per-query candidates exceed maxQueryTerms*cap: ${capped.max}")
    assert(capped.sum < base.size, "tight cap did not shrink the candidate relation")
  }

  test("capRerank auto engages only for tight caps AND bounded rescore fanout") {
    // the measured regimes (SCALE.md r12 curve + r13 corpus-scale-Q
    // point): rerank strictly improves agreement under uncapped cost
    // only when the cap is tight AND the Q·m²·cap rescore stays under
    // the fanout cutoff — loose caps and corpus-scale query batches
    // keep generate-only; explicit conf overrides both ways
    val cutoff = GraftConf.hybridAggShuffleCutoff(spark)
    assert(GraftConf.hybridCapRerank(spark, 200, rescoreEst = 1000L))
    assert(!GraftConf.hybridCapRerank(spark, 500, rescoreEst = 1000L),
      "loose cap must not auto-rerank")
    assert(!GraftConf.hybridCapRerank(spark, 200, rescoreEst = cutoff + 1),
      "corpus-scale rescore fanout must not auto-rerank")
    assert(!GraftConf.hybridCapRerank(spark, 0, rescoreEst = 0L))
    spark.conf.set("spark.graft.hybrid.capRerank", "true")
    try assert(GraftConf.hybridCapRerank(spark, 5000, rescoreEst = cutoff * 2),
      "explicit true must override the auto gate")
    finally spark.conf.unset("spark.graft.hybrid.capRerank")
  }

  test("spark.graft.hybrid.postingBuckets: auto sizes to the corpus (ivf.cells discipline), explicit pins") {
    // auto: smallest power of two at ≤ ~1M docs/bucket, clamped [32, 4096]
    assert(GraftConf.hybridPostingBuckets(spark, 500L) == 32)
    assert(GraftConf.hybridPostingBuckets(spark, 50000000L) == 64,
      "50M docs should spill past the 32-bucket floor")
    assert(GraftConf.hybridPostingBuckets(spark, 1000000000L) == 1024)
    assert(GraftConf.hybridPostingBuckets(spark, 100000000000L) == 4096,
      "the cap must bound the bucket count at extreme corpora")
    spark.conf.set("spark.graft.hybrid.postingBuckets", "8")
    try assert(GraftConf.hybridPostingBuckets(spark, 1000000000L) == 8)
    finally spark.conf.unset("spark.graft.hybrid.postingBuckets")
    intercept[IllegalArgumentException] {
      spark.conf.set("spark.graft.hybrid.postingBuckets", "0")
      try GraftConf.hybridPostingBuckets(spark, 1L)
      finally spark.conf.unset("spark.graft.hybrid.postingBuckets")
    }
  }

  test("spark.graft.ivf.nprobe: auto tracks the quantizer size, numeric pins") {
    // auto resolves to round(√(3·cells)): the probed fraction decays
    // only as √(3/cells) while a fixed count decays as 1/cells — the
    // q238/q226 seam (VERDICT r15 Next #2). Anchored so the 12-cell
    // test quantizer resolves to the pre-r16 default 6 exactly.
    assert(GraftConf.ivfNprobe(spark) == GraftConf.NprobeAuto)
    assert(GraftConf.resolveNprobe(GraftConf.NprobeAuto, 12) == 6)
    assert(GraftConf.resolveNprobe(GraftConf.NprobeAuto, 71) == 15)
    assert(GraftConf.resolveNprobe(GraftConf.NprobeAuto, 2) == 2,
      "auto must clamp to the cell count")
    assert(GraftConf.resolveNprobe(4, 1000) == 4,
      "an explicit count must pass through unresolved")
    withConf("spark.graft.ivf.nprobe", "9") {
      assert(GraftConf.ivfNprobe(spark) == 9)
    }
    withConf("spark.graft.ivf.nprobe", "0") {
      intercept[IllegalArgumentException] { GraftConf.ivfNprobe(spark) }
    }
    // end-to-end: at the 12-cell sfTiny quantizer the auto default is
    // bit-identical to the old pinned 6 (every sf0.01 recall gate and
    // carried oracle unchanged by construction)
    Ann.clearCaches()
    def pairs(np: Int) = Ann.ivfKnn(spark, sfTiny, k = 2, nprobe = np,
      queryMod = 10).collect().map(_.toSeq).toSeq
    assert(pairs(GraftConf.ivfNprobe(spark)) == pairs(6),
      "auto default diverged from the tuned fixed count at the anchor point")
    Ann.clearCaches()
  }

  test("maxsim knobs validate > 0 and the q234 oracle replays the conf defaults") {
    // single source of truth (VERDICT r15 item 4): the oracle SQL is
    // interpolated from the same GraftConf constants the conf readers
    // default to, so a default change moves both sides of the pair
    assert(GraftConf.maxsimGroup(spark) == GraftConf.MaxsimGroupDefault)
    assert(GraftConf.maxsimTopK(spark) == GraftConf.MaxsimTopKDefault)
    assert(GraftConf.maxsimCands(spark) == GraftConf.MaxsimCandsDefault)
    val sql = operators.LateInteraction.q234MaxSimExact.oracle.get
    assert(sql.contains(s"vec_id // ${GraftConf.MaxsimGroupDefault} AS gid"),
      "oracle group divisor not derived from the shared default")
    assert(sql.contains(s"rank <= ${GraftConf.MaxsimTopKDefault}"),
      "oracle top-k cut not derived from the shared default")
    // ADVICE r15: group=0 used to yield null div-gids and silently
    // empty results — the knobs now fail fast
    withConf("spark.graft.maxsim.group", "0") {
      intercept[IllegalArgumentException] { GraftConf.maxsimGroup(spark) }
    }
    withConf("spark.graft.maxsim.topk", "-1") {
      intercept[IllegalArgumentException] { GraftConf.maxsimTopK(spark) }
    }
    withConf("spark.graft.maxsim.cands", "0") {
      intercept[IllegalArgumentException] { GraftConf.maxsimCands(spark) }
    }
  }

  test("spark.graft.stream.stageDir roots the streamed staging dirs (shared-FS cluster contract)") {
    // q225/q227 accumulate micro-batch state between triggers; on a real
    // cluster that staging root must be a shared-FS path every executor
    // can write, not a driver-local temp dir — the conf flips the root
    val root = java.nio.file.Files.createTempDirectory("graft_stage_root").toString
    try {
      spark.conf.set("spark.graft.stream.stageDir", root)
      val p = streaming.StreamingJobs.stagingDir(spark, "probe")
      assert(p.startsWith(root), s"staging dir $p not under the configured root $root")
      assert(new java.io.File(p).isDirectory, "configured staging dir was not created")
      val p2 = streaming.StreamingJobs.stagingDir(spark, "probe")
      assert(p2 != p, "staging dirs must be unique per run")
    } finally spark.conf.unset("spark.graft.stream.stageDir")
    val q = streaming.StreamingJobs.stagingDir(spark, "probe")
    assert(!q.startsWith(root), "unset conf must fall back to a temp dir")
  }
}
