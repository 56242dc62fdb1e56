package graft

import org.apache.spark.sql.functions._

/** The README's determinism claim, pinned: registered results must not
  * depend on the session's shuffle-partition count. One representative
  * query per operator family runs under two unusual partition counts
  * (3 and 17 — neither the suite default nor a power of two) and must
  * collect to identical canonical row sets. Catches the classic
  * distributed-determinism bugs: partition-order-dependent ties,
  * first()/head abuse, per-partition state leaking into results,
  * float reduction orders surfacing through under-rounded outputs. */
class PartitionInvarianceSpec extends SparkSpec {

  // one per family: agg, window/top-k, dedup keep-first, shingle join,
  // connected components, typed aggregator, heavy hitters, selection,
  // priority sample, HLL sketch, prefix join, HRW shard, equi-depth
  private val names = Seq(
    // the exact pair kernel (q31) and the anti-join over its pairs (q54)
    "q31_neardup_pairs", "q54_neardup_survivors",
    "q01_pricing_summary", "q04_topk_per_group", "q50_exact_dedup",
    "q53_ngram_jaccard", "q64_dup_clusters", "q122_topk_aggregator",
    "q132_heavy_hitters", "q145_order_statistics", "q147_priority_sample",
    "q167_hll_registers", "q170_prefix_jaccard", "q171_rendezvous_shard",
    "q178_equidepth_hist",
    // round-7 curation wave: per-doc argmax tie-break (window), integer
    // mixture targets over a broadcast Σweights scalar, iterative BPE
    // argmax (driver-collected 1-row top with lexicographic tie-break)
    "q182_repetition_filter", "q184_mixture_sample", "q186_bpe_merges",
    // r8: integer fixed-point PageRank — the state is exact, so the
    // result must survive ANY partitioning bit-for-bit
    "q164_knn_graph_pagerank",
    // r9: tokenizer APPLY — per-word chained replaces + two-level
    // ordered re-assembly (sort_array over collect_list) must not
    // leak partition order into the id sequences; and the packed
    // training sequences concatenate per-sequence payloads in strict
    // doc_id order
    "q196_bpe_encode", "q201_training_sequences",
    // r9 wave 2: per-(query, side) bounded heaps with double-sim
    // tie-breaks; affine-permutation shuffle (xor order-sig binds every
    // (shard, pos, doc) triple — any partition-order leak flips it)
    "q211_hard_negatives", "q213_seeded_shuffle",
    // r10: the Gramian aggregator — exact integer sums, so the d²
    // covariance state (and the 8-round power iteration on it) must be
    // BIT-identical whatever the partitioning; any float or
    // merge-order leak in reduce/merge flips a loading
    "q220_embedding_pca",
    // r15: MaxSim — per-(query-vector, group) max over a kernel join,
    // tenth-bp integer rounding, integer sums, rank ties on dgid; the
    // retrieve tier adds the bounded candidate heap (double-sim
    // tie-break on tid) in front. Any partition-order leak through
    // max/heap merge order flips a rank.
    "q234_maxsim_exact", "q235_maxsim_retrieve",
    // r15: NFC-keyed keep-first dedup over a three-way union — the
    // keeper must be the global min doc_id per key whatever the
    // partitioning of the unioned corpus
    "q237_nfc_dedup")

  private def canon(name: String): Seq[Seq[String]] =
    Registry.byName(name).run(spark, sfTiny)
      .collect().map(_.toSeq.map(String.valueOf)).toSeq.sorted(
        Ordering.by((s: Seq[String]) => s.mkString("\u0000")))

  test("results identical under shuffle.partitions = 3 and 17") {
    val key = "spark.sql.shuffle.partitions"
    val orig = spark.conf.get(key)
    try {
      names.foreach { n =>
        // q220's pca state is cached per (session, dataset, iters) — a
        // second run would trivially return the first run's state, so
        // the invariance check must force a genuine re-aggregation
        def reset(): Unit =
          if (n.startsWith("q220")) operators.Embedding.clearCaches()
        spark.conf.set(key, "3")
        reset(); val a = canon(n)
        spark.conf.set(key, "17")
        reset(); val b = canon(n)
        assert(a == b, s"$n output depends on the shuffle partition count")
        assert(a.nonEmpty, s"$n vacuous at sf0.001")
      }
    } finally spark.conf.set(key, orig)
  }

  test("pipeline stage 4's exact pairs identical under shuffle.partitions = 3 and 17") {
    val key = "spark.sql.shuffle.partitions"
    val orig = spark.conf.get(key)
    val vectors = Tables.embeddings(spark, sfTiny)
      .select(col("vec_id").as("doc_id"), col("embedding"))
    val packed = graft.functions.PairKernel.pack(vectors, "doc_id", "embedding")
    def run(p: String) = {
      spark.conf.set(key, p)
      JobPipeline.exactPairs(vectors, packed, 0.35).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq.sorted
    }
    try {
      val a = run("3")
      assert(a.nonEmpty && a == run("17"), "stage 4 depends on the shuffle partition count")
    } finally { spark.conf.set(key, orig); packed.destroy() }
  }

  test("rebalanceCells: repaired assignment AND cell numbering invariant under partitioning (ADVICE r10)") {
    // the persisted ivf_rebalanced artifact's contract: same input
    // assignment => same (vec_id -> centroid_id) mapping whatever the
    // partition count. Exercises the two fixed leaks: new-cell ids were
    // assigned in driver collect() order, and the split-dimension argmax
    // compared raw float variances. The hot cell spreads on dims 1 and 2
    // with EXACTLY equal variances in exact arithmetic (i%60 and
    // (i*7)%60 are both uniform over 0..59), so only the rounded argmax
    // + lowest-dim tie-break keeps the split dimension stable.
    val s = spark
    import s.implicits._
    val key = "spark.sql.shuffle.partitions"
    val orig = spark.conf.get(key)
    val rows =
      (0L until 20L).map(i => (i, 0, Seq(math.sin(i * 1.7), 0.1 * i, 2.0))) ++
        (100L until 120L).map(i => (i, 1, Seq(5.0 + 0.01 * i, -3.0, 0.3 * (i % 7)))) ++
        (200L until 230L).map(i => (i, 2, Seq(-2.0, 0.015 * (i % 9), 4.0))) ++
        (300L until 600L).map(i => (i, 3, Seq(1.0, 0.02 * (i % 60), 0.02 * ((i * 7) % 60))))
    def run(parts: Int): Seq[(Long, Int)] = {
      spark.conf.set(key, parts.toString)
      val assigned = rows.toDF("vec_id", "centroid_id", "vec").repartition(parts)
      val (rep, _, skews) = operators.Ann.rebalanceCells(spark, assigned, 4, threshold = 1.5)
      assert(skews.last < skews.head, "hot cell not repaired")
      val out = rep.select("vec_id", "centroid_id").as[(Long, Int)].collect().sorted.toSeq
      rep.unpersist()
      out
    }
    try {
      val a = run(3)
      val b = run(17)
      assert(a.map(_._1) == rows.map(_._1).sorted, "repair lost or duplicated vectors")
      assert(a == b, "repaired assignment depends on the partition count")
    } finally spark.conf.set(key, orig)
  }

  test("rebalanceCells: the refinement-overload RE-ENTRY path is partition-invariant too (ADVICE r11)") {
    // the round-12 guard alternates split loop <-> refinement pass; the
    // re-entered rounds split cells whose membership was produced by the
    // refinement's float distance comparisons, so this is a NEW surface
    // for partition-order leaks. Same absorber fixture as OperatorSpec's
    // re-entry test (the trajectory provably rises back over the
    // threshold after refinement), run under two partition counts: the
    // final (vec_id -> centroid_id) mapping must be identical.
    val s = spark
    import s.implicits._
    val key = "spark.sql.shuffle.partitions"
    val orig = spark.conf.get(key)
    def jit(i: Long): Double = (i % 7).toDouble * 1e-4
    val rows =
      (0L until 500L).map(i => (i, 0, Seq(10.0 + jit(i), 0.0))) ++
        (500L until 800L).map(i => (i, 0, Seq(jit(i), 0.0))) ++
        (800L until 1060L).map(i => (i, 1, Seq(jit(i), 1e-3))) ++
        (1060L until 1300L).map(i => (i, (2 + (i % 8)).toInt, Seq(100.0 + (i % 8) * 10.0, jit(i))))
    def run(parts: Int): Seq[(Long, Int)] = {
      spark.conf.set(key, parts.toString)
      val assigned = rows.toDF("vec_id", "centroid_id", "vec").repartition(parts)
      val (rep, _, skews) = operators.Ann.rebalanceCells(spark, assigned, 10, threshold = 2.8)
      // the fixture must actually take the re-entry path
      val firstUnder = skews.indexWhere(_ <= 2.8)
      assert(firstUnder >= 0 && skews.drop(firstUnder + 1).exists(_ > 2.8),
        s"fixture no longer exercises the re-entry path: $skews")
      val out = rep.select("vec_id", "centroid_id").as[(Long, Int)].collect().sorted.toSeq
      rep.unpersist()
      out
    }
    try {
      val a = run(3)
      val b = run(17)
      assert(a.map(_._1) == rows.map(_._1).sorted, "re-entered repair lost or duplicated vectors")
      assert(a == b, "re-entered repair depends on the partition count")
    } finally spark.conf.set(key, orig)
  }
}
