package graft

import org.apache.spark.sql.SparkSession

/** Engine configuration surface — the Spark-native equivalent of the
  * reference's env-driven knobs (reference: .env:4-11 and app/main.py:31-58
  * read EMBEDDING_DIM / FAISS_INDEX_TYPE / SIMILARITY_THRESHOLD etc. from
  * the environment). Every knob is a SparkConf entry so it can be set per
  * session (`spark.conf.set(...)`), per job submit (`--conf`), or left at
  * the SURVEY default. Reads are dynamic and every fit-time knob is part
  * of the model-cache key (operators.Ann), so a conf change takes effect
  * on the next operator call instead of silently reusing a stale model.
  * GraftConfSpec asserts each knob observably changes its operator.
  */
object GraftConf {

  /** M1 embedding dimension. Reference default 384 (all-MiniLM-L6-v2,
    * app/main.py:43-46); the synthetic `embeddings` test table is 64-d but
    * that table carries its own dimension — this knob only drives the
    * text->embedding stage. */
  def embeddingDim(s: SparkSession): Int =
    s.conf.get("spark.graft.embedding.dim", "384").toInt

  /** IVF coarse-quantizer cell count. Default "auto": ⌊√rows⌉ of the
    * corpus (floor 4), resolved from the cached TableStats relation at
    * fit time — the faiss sizing rule, and the measured scale winner
    * (SCALE.md ANN rehearsal: the old static default of 12 scans half
    * the corpus whatever N — 2.4× vs the exact baseline at 10× — while
    * √N cells hold per-probe work ~constant: 8.9× at recall 1.0000).
    * A numeric value pins the count (reference `IVF100,Flat`, .env:7 —
    * 100 cells at 90k rows ≈ the same √N rule, hand-applied). The
    * RESOLVED count is part of the model-cache/artifact key
    * (operators.Ann), so corpus growth re-fits the quantizer instead of
    * silently reusing a stale one. */
  def ivfCells(s: SparkSession, rows: Long): Int =
    s.conf.get("spark.graft.ivf.cells", "auto") match {
      case "auto" =>
        // √N, floored so the average cell keeps >= minCellRows vectors:
        // on weakly-clustered data recall needs a sane PROBED FRACTION,
        // and uncapped √N collapses it exactly at small corpora (22
        // cells at 500 rows measured 0.74 recall vs 0.94 at 12). The
        // cap is ~N/minCellRows, so it only ever bites below
        // N ≈ (nprobe-ish · minCellRows)² — at real corpus sizes the
        // √N term governs alone (20k → 141, 10^9 → ~31.6k cells).
        val sqrtN = math.round(math.sqrt(rows.toDouble))
        val cap = math.max(1L, rows / ivfMinCellRows(s))
        math.max(4L, math.min(sqrtN, cap)).toInt
      case v => v.toInt
    }

  /** Average-cell-size floor for the auto IVF cell count (see
    * [[ivfCells]]). 40 reproduces the tuned small-corpus cell counts
    * (500 rows → 12 cells) that hold the 0.9 recall gates on the
    * weakly-clustered test embeddings; lower it for strongly clustered
    * corpora where constant-count probing already recalls well. */
  def ivfMinCellRows(s: SparkSession): Int = {
    val v = s.conf.get("spark.graft.ivf.minCellRows", "40").toInt
    require(v >= 1, s"spark.graft.ivf.minCellRows must be >= 1, got $v")
    v
  }

  /** IVF probe width: how many nearest cells each query searches.
    * Default "auto" (round 16, VERDICT r15 Next #2 — the q238/q226
    * seam): the quantizer auto-sizes cells as √N, so a FIXED probe
    * count shrinks the probed fraction as the corpus grows (measured:
    * q238 recall@3 0.97 at sf0.01 → 0.85 at 10× at the old fixed 6).
    * Auto resolves to round(√(3·cells)) — the geometric middle between
    * fixed-count (fraction ∝ 1/cells, recall decays) and fixed-fraction
    * (probe work ∝ N, sublinearity lost): probed fraction decays only
    * as √(3/cells) and per-query scanned rows grow as √3·N/∜N ∝ N^¾ at
    * the √N cell count. The √3 constant anchors auto to the tuned
    * small-corpus point: at the 12-cell test quantizer it resolves to
    * exactly the old default 6, so every sf0.01 recall gate and oracle
    * is unchanged by construction. A numeric value pins the count
    * (reference nprobe, app/vector_search.py:40-47).
    *
    * Returns [[NprobeAuto]] under auto — the cell count is not known
    * here; resolve with [[resolveNprobe]] at the probe site. */
  def ivfNprobe(s: SparkSession): Int =
    s.conf.get("spark.graft.ivf.nprobe", "auto") match {
      case "auto" => NprobeAuto
      case v =>
        val i = v.toInt
        require(i >= 1, s"spark.graft.ivf.nprobe must be >= 1 or auto, got $i")
        i
    }

  /** Sentinel for the auto probe width (see [[ivfNprobe]]): travels
    * through the operators' `nprobe: Int` plumbing and resolves against
    * the fitted quantizer's cell count at the probe site. */
  val NprobeAuto: Int = -1

  /** Resolve a possibly-[[NprobeAuto]] probe width against the fitted
    * quantizer's cell count. Explicit counts pass through untouched
    * (the probe kernel itself clamps to the cell count, as before). */
  def resolveNprobe(nprobe: Int, cells: Int): Int =
    if (nprobe > 0) nprobe
    else math.max(1, math.min(cells,
      math.round(math.sqrt(3.0 * cells)).toInt))

  /** KMeans iteration cap for the IVF quantizer fit. Each iteration is a
    * Spark job; 10 converges on clustered corpora (q35 recall unchanged
    * vs 20 on the test tables) at half the fit latency. */
  def ivfMaxIter(s: SparkSession): Int =
    s.conf.get("spark.graft.ivf.maxIter", "10").toInt

  /** KMeans init for the IVF quantizer: "k-means||" (default — several
    * rounds of init jobs but well-seeded cells) or "random" (one init
    * job). Measured on the test tables: random init cuts fit latency
    * ~30% but drops q35 recall 0.94 -> 0.84 at nprobe=6 — badly seeded
    * cells split true clusters, and no Lloyd iteration count repairs
    * that within the 0.9 recall gate. Quality default wins. */
  def ivfInitMode(s: SparkSession): String =
    s.conf.get("spark.graft.ivf.initMode", "k-means||")

  /** BRP-LSH bucket length (round-3 sweep, BASELINE.md; threshold 0.35:
    * 0.25 matches 0.5/1.0 recall at every table count while trimming the
    * candidate set; 0.1 collapses recall to 0.81-0.93). */
  def lshBucketLength(s: SparkSession): Double =
    s.conf.get("spark.graft.lsh.bucketLength", "0.25").toDouble

  /** BRP-LSH hash-table count (more tables = higher recall, more
    * candidates; r3 sweep at the adversarially-low 0.35 threshold:
    * 5 tables -> 0.98, 8 -> 0.996, 12 -> 1.00 pair recall). */
  def lshNumTables(s: SparkSession): Int =
    s.conf.get("spark.graft.lsh.numHashTables", "8").toInt

  /** Hash-table count for the MULTI-PROBE LSH tier (q149): with ±probes
    * adjacent-bucket probing each table contributes ~(2·probes+1)
    * buckets of candidates, so far fewer tables hold the recall —
    * r6 sweep at threshold 0.35, probes=1: 3 tables -> see BASELINE.md.
    * The persisted hashed index scales with THIS number, which is the
    * point: recall per stored table is the multi-probe win. */
  def lshProbeTables(s: SparkSession): Int =
    s.conf.get("spark.graft.lsh.probeTables", "3").toInt

  /** Adjacent buckets probed on each side of a vector's own bucket per
    * table (q149 multi-probe). 1 = probe {-1, 0, +1}. Candidate volume
    * grows ~linearly in (2·probes+1)·probeTables. */
  def lshProbes(s: SparkSession): Int =
    s.conf.get("spark.graft.lsh.probes", "1").toInt

  /** Intra-bucket salt fan-out for the LSH candidate self-join: a
    * mega-bucket's O(|bucket|^2) pair generation is split across this
    * many tasks (join *output* skew is invisible to AQE, which splits by
    * input partition bytes). Cost: the probe side is replicated this many
    * times — keep well below the corpus row count. */
  def lshBucketSalts(s: SparkSession): Int =
    s.conf.get("spark.graft.lsh.bucketSalts", "16").toInt

  /** Directory for persisted ANN index models (S6 parity with the
    * reference's faiss.write_index/read_index round-trip,
    * app/vector_search.py:207-294). Unset = in-memory only (fit per JVM). */
  def indexDir(s: SparkSession): Option[String] =
    s.conf.getOption("spark.graft.index.dir")

  /** Cluster profile for [[graft.Mat]]: true = within-query
    * materializations are RELIABLE checkpoints under [[checkpointDir]]
    * (survive executor loss, pin no executor storage); false (default,
    * the local[n] profile) = an eager checkpoint into executor storage. */
  def reliableCheckpoints(s: SparkSession): Boolean =
    s.conf.get("spark.graft.checkpoint.reliable", "false").toBoolean

  /** Reliable-checkpoint root for [[graft.Mat]] (cluster profile: an
    * HDFS/object-store path). Defaults next to the model store, or to
    * a tmp dir when the store is off. */
  def checkpointDir(s: SparkSession): String =
    s.conf.getOption("spark.graft.checkpoint.dir")
      .orElse(indexDir(s).map(_ + "/_checkpoints"))
      .getOrElse(sys.props.getOrElse("java.io.tmpdir", "/tmp") + "/graft_ckpt")

  /** Per-term postings ceiling for the hybrid lexical tower
    * (operators.Hybrid), 0 = off. When set, each term keeps only its
    * `cap` highest-BM25-contribution postings (impact-ordered cap — the
    * WAND/impact-index public pattern), so a query touches at most
    * maxQueryTerms·cap candidates whatever the corpus size. The
    * fixed-vocabulary defense: SCALE.md round-11 measured that when the
    * vocabulary does NOT grow with the corpus, per-term df is linear in
    * N and the rarest-m lever alone stops bounding candidates (Zipf
    * 100×: 13.9k candidates/query at 500k docs). Off by default because
    * the ceiling trades recall. */
  def hybridMaxPostings(s: SparkSession): Int =
    s.conf.get("spark.graft.hybrid.maxPostingsPerTerm", "0").toInt

  /** With the postings cap on, use the capped lists only to GENERATE
    * candidates and rescore survivors against their FULL postings (the
    * WAND verify step; exact BM25 for every survivor, so mis-ranking
    * among generated candidates is impossible — the only loss left is a
    * true winner absent from every capped list). The rescore probe is
    * ≤ maxQueryTerms²·cap rows per query — N-independent, the point of
    * the ceiling — but NOT free: on the 500k fixed-V Zipf corpus
    * (SCALE.md round 12) cap=200 rerank lifts top-5 agreement
    * 0.38→0.57 at 0.6-0.7× the uncapped wall, while loose caps regress
    * (cap=1000 generate-only beats cap=500+rerank on both axes) — there
    * is no free quality on impact-flat lists; the measured curve is the
    * doc. The default is therefore "auto" (ADVICE r12: an unconditional
    * default-on silently made loose-cap runs SLOWER than uncapped, the
    * opposite of what the cap opts into): rerank engages only for tight
    * ceilings (cap ≤ 256, the measured regime where it strictly improves
    * agreement at a cost still under uncapped) AND bounded query
    * batches — `rescoreEst` is the caller's Q·m²·cap rescore-row
    * estimate, and past the fanout cutoff the rescore rivals the
    * uncapped fanout itself (measured round 13: 500k-doc Zipf at
    * Q=50k — cap200+rerank 413 s vs 40 s generate-only vs 286 s
    * uncapped), so auto stays generate-only there. Explicit true/false
    * override either way. */
  def hybridCapRerank(s: SparkSession, cap: Int, rescoreEst: Long): Boolean =
    s.conf.get("spark.graft.hybrid.capRerank", "auto") match {
      case "auto" =>
        cap > 0 && cap <= 256 && rescoreEst <= hybridAggShuffleCutoff(s)
      case other => other.toBoolean
    }

  /** Bucket count for the hybrid tower's persisted posting/tf/lens
    * catalog tables (operators.Hybrid). "auto" (default) sizes to the
    * corpus — the ivf.cells discipline applied to the lexical index
    * (ADVICE r13: the old hard-coded 32 was the "corpus-sized in
    * production" TODO): the smallest power of two giving ≤ ~1M docs
    * per bucket, clamped to [32, 4096] (at ~hundreds of posting rows
    * per doc that is ~10⁸ rows ≈ low-GB parquet per bucket — one
    * healthy task; 10⁹-doc corpora land at 1024-4096 buckets). A
    * numeric value pins it. The RESOLVED count is part of the artifact
    * params (operators.Hybrid.storedPostings), so a resize re-builds
    * the artifact instead of re-registering files under a mismatched
    * bucket spec — and the count actually used by a write is recorded
    * in the artifact's `_meta` sidecar, which the re-registration DDL
    * is built from. */
  def hybridPostingBuckets(s: SparkSession, docRows: Long): Int =
    s.conf.get("spark.graft.hybrid.postingBuckets", "auto") match {
      case "auto" =>
        val target = math.max(1L, docRows / 1000000L)
        var bk = 32
        while (bk < 4096 && bk < target) bk <<= 1
        bk
      case v =>
        val i = v.toInt
        require(i >= 1, s"spark.graft.hybrid.postingBuckets must be >= 1, got $i")
        i
    }

  /** Estimated fanout-row cutoff that routes the hybrid lexical
    * tower's PLAN SHAPE. Under it (bounded query batches — the serving
    * case) the query-side term lists broadcast and scoring/rescoring
    * aggregates run in place on the posting table's did-buckets with
    * zero corpus-side exchange. Over it (doc-as-query batches, where Q
    * grows with the corpus and the fanout IS the dataset) the classic
    * scatter-gather shapes run instead — shuffle-join on the join key,
    * natural (qid, did) exchange — because bucket parallelism caps the
    * in-place aggregate's task count and its group maps stop fitting
    * (measured on the 500k-doc Zipf corpus at Q=50k: ~700M scored rows,
    * ~21 GB of spill over 32 buckets). Default 64M rows ≈ 2M groups per
    * bucket at 32 buckets. */
  def hybridAggShuffleCutoff(s: SparkSession): Long =
    s.conf.get("spark.graft.hybrid.aggShuffleCutoff", "64000000").toLong

  /** How the hybrid gate obtains the fanout-row count it compares to
    * [[hybridAggShuffleCutoff]] (round 15, VERDICT r14 Missing #1):
    *  - "exact" (default): MEASURE the batch — one broadcast join of
    *    the actual Q·m query terms against the V-row per-term df
    *    relation, Σdf over the batch's terms. Routing is a fact, not a
    *    bound, so neither the head-term-only adversary (mean df
    *    under-routes → 21 GB-spill in-place aggregate) nor the skewed
    *    small-Q case (pessimistic bound over-routes → needless
    *    scatter-gather) can mis-route.
    *  - "estimate": the r14 estimator — Q·m·(Σdf/V) from the posting
    *    artifact's `_stats` sidecar, or Q·m·(maxDfFrac·N) with no
    *    artifact. Kept for A/B and for spec-forging the historical
    *    mis-routes. */
  def hybridFanoutGate(s: SparkSession): String =
    s.conf.get("spark.graft.hybrid.fanoutGate", "exact") match {
      case m @ ("exact" | "estimate") => m
      case other => throw new IllegalArgumentException(
        s"spark.graft.hybrid.fanoutGate must be exact|estimate, got $other")
    }

  /** Staging root for streamed-state runs that accumulate micro-batch
    * output between triggers: every dir made by
    * StreamingJobs.stagingDir — the state dirs of the drained streamed
    * twins (StreamingJobs.drain: q134, q153-q155, q159, q168, q174,
    * q180, q185, q198, q204, q209, q231), the q225 index-add monitor,
    * the q227 standing loop and the no-store fallback of the q193/q194
    * curation pipeline. Unset = a driver-local temp dir, which is
    * correct on local[*] only; on a real cluster set this to a
    * shared-FS path (HDFS/S3A) so every executor can write the batch
    * partitions. */
  def streamStageDir(s: SparkSession): Option[String] =
    s.conf.getOption("spark.graft.stream.stageDir")

  /** Corpus-size cutoff above which the composed pipeline's pair search
    * routes through the LSH candidate path instead of the exact join. */
  def exactPairCutoff(s: SparkSession): Long =
    s.conf.get("spark.graft.pairs.exactCutoff", "20000").toLong

  /** Max ON-DISK corpus bytes for which the exact all-pairs path is still
    * admissible (Similarity.nearDupPairsAuto): a corpus can be under the
    * row cutoff but carry vectors wide enough that N² kernel work is
    * still the wrong plan. 256 MB default ≈ a corpus every executor can
    * also hold broadcast. */
  def exactPairMaxBytes(s: SparkSession): Long =
    s.conf.get("spark.graft.pairs.exactMaxBytes", (256L << 20).toString).toLong

  /** Corpus row count under which the kNN auto-router keeps the exact
    * O(Q·N) scorer (it IS the best answer when the kernel work fits —
    * and it is the oracle-replayable tier). */
  def knnExactCutoff(s: SparkSession): Long =
    s.conf.get("spark.graft.knn.exactCutoff", "10000").toLong

  /** Forced kNN tier: "auto" (default) routes by TableStats; "exact" |
    * "ivf" | "nsw" pin a branch (e.g. ivf when per-executor memory
    * can't hold NSW shard graphs + vectors resident). */
  def knnTier(s: SparkSession): String = {
    val t = s.conf.get("spark.graft.knn.tier", "auto")
    require(Set("auto", "exact", "ivf", "nsw")(t), s"bad spark.graft.knn.tier: $t")
    t
  }

  /** Corpus row count above which the auto pair router prefers the IVF
    * tier over any LSH tier: the stored IVF index is ONE row per vector
    * (its cell id) versus numHashTables rows per vector for LSH, and the
    * candidate volume Σ|cell|² tracks the corpus via the ncells knob —
    * at the largest corpora index bytes dominate the cost model. */
  def ivfPairRowCutoff(s: SparkSession): Long =
    s.conf.get("spark.graft.pairs.ivfRowCutoff", "5000000").toLong

  /** Threshold below which the auto pair router treats the search as
    * LOOSE and routes to multi-probe LSH: at low thresholds the
    * dominant miss mode is a true pair split by a bucket boundary, and
    * probing ±1 adjacent buckets buys ~3× the recall of the stored
    * table count without growing the persisted index (Lv et al.,
    * VLDB'07). At tight thresholds near-identical vectors co-hash with
    * high probability and plain LSH suffices. */
  def loosePairThreshold(s: SparkSession): Double =
    s.conf.get("spark.graft.pairs.looseThreshold", "0.5").toDouble

  /** Max edge count for which connected components (q64) runs its
    * driver-side union-find fast path instead of the distributed
    * large-star/small-star alternation. 2M edges ≈ 32 MB collected —
    * comfortably broadcast-sized; above it the O(log n) distributed
    * rounds take over. Set to 0 to force the distributed path. */
  def ccLocalEdgeCutoff(s: SparkSession): Long =
    s.conf.get("spark.graft.cc.localEdgeCutoff", "2000000").toLong

  /** MinHash signature length (seeded hash functions per doc, q51/q59).
    * Longer signatures estimate Jaccard tighter but cost one md5 pass
    * per function; bandRows must divide it. Round-5 sketch sweep on
    * the test corpus (BASELINE.md): 8 is the knee — recall 1.0 at half
    * the hashing of 16. */
  def minhashFuncs(s: SparkSession): Int =
    s.conf.get("spark.graft.minhash.funcs", "8").toInt

  /** Rows per MinHash band (q51/q59): bands = funcs/bandRows. Fewer
    * rows per band = looser candidates (collision prob J^bandRows per
    * band): bandRows=1 admits any shared minimum, bandRows=funcs
    * requires identical signatures. */
  def minhashBandRows(s: SparkSession): Int =
    s.conf.get("spark.graft.minhash.bandRows", "2").toInt

  /** Late-interaction MaxSim defaults — SINGLE SOURCE OF TRUTH shared
    * by the conf readers below AND by q234's DuckDB oracle SQL
    * (LateInteraction interpolates these constants into the string), so
    * a future default change cannot silently split the Spark/oracle
    * pair (VERDICT r15 item 4 / ADVICE r15). */
  val MaxsimGroupDefault = 4
  val MaxsimTopKDefault = 3
  val MaxsimCandsDefault = 16

  /** Late-interaction MaxSim knobs (q234-q239, r15). Like the minhash
    * shape knobs: the registered queries read these, so the DEFAULTS are
    * the shape the q234 oracle replays — change them for ad-hoc use of
    * LateInteraction.*, not under Verify. `group` is vectors per
    * multi-vector document (gid = vec_id div group); `topk` the served
    * results per query group; `cands` the per-query-vector candidate ask
    * in the retrieval tiers (recall lever: measured 0.97/1.00 at 16/32
    * on the sf0.01 corpus). Validated > 0 (ADVICE r15: group=0 made the
    * div-derived gids null and queries silently empty). */
  def maxsimGroup(s: SparkSession): Int = {
    val v = s.conf.get("spark.graft.maxsim.group", MaxsimGroupDefault.toString).toInt
    require(v > 0, s"spark.graft.maxsim.group must be > 0, got $v")
    v
  }

  def maxsimTopK(s: SparkSession): Int = {
    val v = s.conf.get("spark.graft.maxsim.topk", MaxsimTopKDefault.toString).toInt
    require(v > 0, s"spark.graft.maxsim.topk must be > 0, got $v")
    v
  }

  def maxsimCands(s: SparkSession): Int = {
    val v = s.conf.get("spark.graft.maxsim.cands", MaxsimCandsDefault.toString).toInt
    require(v > 0, s"spark.graft.maxsim.cands must be > 0, got $v")
    v
  }

  /** Bloom pre-filter sizing (q133): expected distinct keys on the
    * SMALL (inserted) side. With numBits at the default 8 bits/key the
    * false-positive rate at full load is ~2%; oversizing is cheap (the
    * blob is bits/8 bytes regardless of how few keys arrive). */
  def bloomEstItems(s: SparkSession): Long =
    s.conf.get("spark.graft.bloom.estItems", "1000000").toLong

  /** Bloom pre-filter bit count (q133). 8M bits = 1 MB blob — the
    * broadcast cost — for ~2% FPP at 1M keys; scale bits with the
    * inserted-key count to hold FPP (and with it the big side's
    * surviving-candidate shuffle) constant. */
  def bloomNumBits(s: SparkSession): Long =
    s.conf.get("spark.graft.bloom.numBits", "8388608").toLong

  /** SimHash band count (q52): the 64-bit sketch is split into this
    * many equal-width bands (even, and band width must divide 32 so
    * bands nest in the sketch's two 32-bit words: 2, 4, 8, 16).
    * Pigeonhole: b bands give complete recall for Hamming <= b-1, so
    * the default 4 exactly covers the operator's radius-3 contract;
    * more bands widen candidate volume without widening the radius. */
  def simhashBands(s: SparkSession): Int =
    s.conf.get("spark.graft.simhash.bands", "4").toInt

  /** PQ subspace count (m): the embedding is split into m equal
    * sub-vectors, each quantized to one code — the corpus side of an
    * ADC search shuffles m small codes per row instead of dim floats
    * (16 codes vs 64 floats = 16x at the defaults). Must divide the
    * embedding dimension. Defaults from the round-5 sweep (BASELINE.md):
    * m=16, k=256, refine=8 -> recall@2 0.93-0.94, the same ceiling the
    * uncompressed IVF probe itself has at nprobe=6. */
  def pqSubspaces(s: SparkSession): Int =
    s.conf.get("spark.graft.pq.m", "16").toInt

  /** PQ codebook size per subspace (k): larger = finer quantization,
    * k entries per subspace in every query's ADC table (256 = the
    * standard 8-bit-code shape). */
  def pqCodes(s: SparkSession): Int =
    s.conf.get("spark.graft.pq.codes", "256").toInt

  /** ADC shortlist multiplier: the PQ search keeps top k*refine
    * candidates by approximate distance, then re-ranks exactly on the
    * full vectors (the faiss IVFPQ+refine shape) — only the shortlist
    * ever touches full-width vectors. */
  def pqRefine(s: SparkSession): Int =
    s.conf.get("spark.graft.pq.refine", "8").toInt

  /** Bucket count for JobPipeline's stage-3 index table: the searchable
    * (doc_id, embedding) relation is written bucketed by doc_id so every
    * downstream id-keyed equi-join against it (vector fetch, survivor
    * anti-join, enrichment) plans without re-shuffling the corpus. Size
    * so one bucket ~ a few GB at the target scale. */
  def indexBuckets(s: SparkSession): Int =
    s.conf.get("spark.graft.index.buckets", "16").toInt

  /** Word2Vec fit parallelism (M1 alternative backend). Default 1 =
    * bit-reproducible fits (MLlib's multi-partition Word2Vec merges
    * per-partition weight updates in a nondeterministic order); raise on
    * large corpora where fit throughput matters more than exact
    * reproducibility. Embedding *application* is a narrow map either
    * way — this knob only shapes the fit. */
  def w2vNumPartitions(s: SparkSession): Int =
    s.conf.get("spark.graft.w2v.numPartitions", "1").toInt

  /** Sequence-packing shard fan-out (q48): each `source` is split into
    * this many hash shards and shards pack independently, so packing
    * parallelism is sources x shards instead of the source cardinality
    * (a 4-source 100 TB corpus would otherwise sort on 4 reducers).
    * The shard key is md5-derived so the DuckDB oracle replays it. */
  def packShards(s: SparkSession): Int =
    s.conf.get("spark.graft.pack.shards", "8").toInt

  /** Salt fan-out for the explicit replicate-and-salt skew join (q108):
    * a hot key is spread over this many reducers at the cost of
    * replicating the dim side the same factor. Salting never changes
    * results (oracle-checked against the unsalted join), so the knob is
    * purely a parallelism/replication trade. */
  def joinSalts(s: SparkSession): Int = {
    val v = s.conf.get("spark.graft.join.salts", "8").toInt
    // salts < 1 would make the fact-side pmod NULL and the dim-side
    // sequence descend — an empty join with no error; fail loudly instead
    require(v >= 1, s"spark.graft.join.salts must be >= 1, got $v")
    v
  }

  /** Graph-ANN (q127/q128) shard count: each shard holds an independent
    * in-memory NSW graph of ~N/shards points; at cluster scale pick
    * shards so a shard's adjacency (|shard| x 2M ints) fits an executor
    * comfortably. 4 exercises multi-shard merge on the test corpus. */
  def nswShards(s: SparkSession): Int =
    s.conf.get("spark.graft.nsw.shards", "4").toInt

  /** NSW max out-degree M (adjacency pruned to 2M, HNSW convention).
    * Reference default HNSW32 (app/main.py:47) uses M=32 at 384-d/90k
    * rows; 8 holds recall >= 0.98 on the 64-d test corpus. */
  def nswM(s: SparkSession): Int =
    s.conf.get("spark.graft.nsw.m", "8").toInt

  /** NSW build-time beam width (efConstruction). */
  def nswEfConstruct(s: SparkSession): Int =
    s.conf.get("spark.graft.nsw.efConstruct", "32").toInt

  /** NSW search-time beam width (efSearch); recall/latency dial. */
  def nswEfSearch(s: SparkSession): Int =
    s.conf.get("spark.graft.nsw.efSearch", "48").toInt

  /** NN-Descent refinement rounds for the ANN k-NN-graph builder
    * (Graph.nnDescentEdges): each round is one 2-hop candidate join +
    * exact re-score + bounded top-k, ≤ N·(2k)² candidate rows. 2 rounds
    * lift the IVF seed's 0.74 edge recall past the 0.9 gate on the
    * test corpus; more rounds buy recall at linear cost. */
  def nnDescentRounds(s: SparkSession): Int = {
    val v = s.conf.get("spark.graft.nndescent.rounds", "2").toInt
    require(v >= 0, s"spark.graft.nndescent.rounds must be >= 0, got $v")
    v
  }

  /** Internal NN-Descent list-width multiplier (the paper's K quality
    * dial): the descent maintains width·k neighbors per node and
    * truncates to k at the end. Candidate volume per round grows with
    * (2·width·k)² — still linear in N. */
  def nnDescentWidth(s: SparkSession): Int = {
    val v = s.conf.get("spark.graft.nndescent.width", "3").toInt
    require(v >= 1, s"spark.graft.nndescent.width must be >= 1, got $v")
    v
  }

  /** Distinct-word cutoff under which BPE training collects the
    * (word, cnt) vocabulary and runs the merge loop DRIVER-LOCAL (the
    * shape real tokenizer trainers use: distributed counting, in-RAM
    * merging) — at 1M words ≈ tens of MB. Above it the distributed
    * batched loop takes over; 0 forces the distributed loop. */
  def bpeLocalVocabCutoff(s: SparkSession): Int =
    s.conf.get("spark.graft.bpe.localVocabCutoff", "1000000").toInt

  /** q131 classifier-filter keep threshold on P(high quality). 0.5 is
    * the calibrated default; raise it to trade corpus size for quality
    * (the knob public pipelines sweep per data source). */
  def qualityMinScore(s: SparkSession): Double = {
    val v = s.conf.get("spark.graft.quality.minScore", "0.5").toDouble
    require(v >= 0.0 && v <= 1.0,
      s"spark.graft.quality.minScore must be in [0,1], got $v")
    v
  }

  /** Range-bucket count for the distributed prefix-scan decompositions
    * (q144 skyline carry-in, q145 two-pass selection). Governs the
    * parallelism/carry-relation-size trade: per-bucket work is ~n/bins
    * and the only global window touches `bins` rows. The RESULT is
    * invariant to this knob by construction — ExtOpsSpec proves
    * equality across bin counts, which is the correctness property of
    * the decomposition itself. */
  def selectionBins(s: SparkSession): Int = {
    val v = s.conf.get("spark.graft.selection.bins", "256").toInt
    require(v >= 1, s"spark.graft.selection.bins must be >= 1, got $v")
    v
  }
}
