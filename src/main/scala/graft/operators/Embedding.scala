package graft.operators

import org.apache.spark.ml.functions.vector_to_array
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{GraftConf, GraftQuery, Tables}
import graft.functions.{GramianAggregator, TfIdf, TfIdfModel}

/** M1 — text -> embedding. The reference encodes with a sentence
  * transformer (app/generate_embeddings.py:25-50, all-MiniLM-L6-v2,
  * 384-d L2-normalized float32); a transformer needs an external model
  * server, so the engine's public-knowledge stand-in is classic hashed
  * TF-IDF, L2-normalized, dimension from GraftConf.embeddingDim
  * (reference default 384; specs pin 64 to match the synthetic
  * embeddings table). It runs on the engine's own kernel
  * (graft.functions.TfIdf: one `treeAggregate` fit, one `graft_tfidf`
  * expression emitting ARRAY<DOUBLE>), bit-identical to the MLlib chain
  * RegexTokenizer -> HashingTF -> IDF -> Normalizer(p=2) ->
  * vector_to_array it replaced; the fitted model is (dim, numDocs,
  * docFreq) and persists as one small file. The contract the rest of the
  * engine relies on is identical: a deterministic, L2-normalized
  * fixed-dim vector per document, co-located with its key (no positional
  * id_map — the reference's fragile parallel-array design,
  * app/vector_search.py:289-292, is structurally impossible here).
  *
  * Not SQL-expressible (murmur3 feature hashing), so no DuckDB oracle;
  * EmbeddingSpec asserts unit norms, determinism, and that near-dup text
  * pairs embed closer than random pairs; TfIdfSpec compares every bit
  * with the MLlib chain. */
object Embedding {

  /** Configured output dimension (spark.graft.embedding.dim). */
  def dim(s: SparkSession): Int = GraftConf.embeddingDim(s)

  // fit-once-embed-many (S6 parity for M1, same policy as Ann's
  // quantizer): the IDF fit is an extra full corpus scan, so the fitted
  // model is an index artifact, not part of any single query. One fit
  // per (session, dataset, dim) per JVM; with spark.graft.index.dir set,
  // one fit per CLUSTER, loaded thereafter (reference persists the
  // encoder output the same way, app/generate_embeddings.py +
  // vector_search.py:207-294).
  private val modelCache =
    scala.collection.concurrent.TrieMap.empty[(String, String), TfIdfModel]

  private def sessionKey(s: SparkSession): String =
    System.identityHashCode(s).toString

  /** Fits performed by this JVM — EmbeddingSpec's no-refit probe. */
  private[graft] val fitCount = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Drop cached fitted embedding models (spec hook / M5 rebuild). */
  def clearCaches(): Unit = {
    modelCache.clear(); w2vCache.clear(); pcaCache.clear()
  }

  private def fitModel(docs: DataFrame, dim: Int): TfIdfModel = {
    fitCount.incrementAndGet()
    TfIdf.fit(docs, "text", dim)
  }

  /** The fitted model for (dataset key, dim): session cache first, then
    * the persisted artifact, then fit (and save if persistence is on).
    * `key=None` (anonymous frame) always fits — there is no sound cache
    * identity for arbitrary intermediate frames. */
  private def model(docs: DataFrame, key: Option[String], dim: Int): TfIdfModel = {
    val s = docs.sparkSession
    key match {
      case Some(k) =>
        graft.FitTiming.cachedOrFit(modelCache, (sessionKey(s), s"$k@dim=$dim"))(
          ModelStore.loadOrFitFile(s, ModelStore.artifactPath(s, "tfidf", k, s"dim=$dim"),
            TfIdfModel.read, TfIdfModel.write)(fitModel(docs, dim)))
      case None => fitModel(docs, dim)
    }
  }

  /** Fit-or-load + apply the embedding; (doc_id, embedding). */
  def embed(s: SparkSession, d: String): DataFrame =
    embedDocs(Tables.documents(s, d).select(col("doc_id"), col("text")), Some(d))

  /** Same, over any (doc_id, text) frame (the composed-pipeline entry).
    * Pass `cacheKey` when the frame is a deterministic function of a
    * dataset (e.g. a pipeline stage) so the fitted model is cached and
    * persisted under that identity. */
  def embedDocs(docs: DataFrame, cacheKey: Option[String] = None): DataFrame =
    embedWith(docs, tfidfModel(docs, cacheKey))

  /** The fitted TF-IDF model behind `embedDocs(docs, cacheKey)`, at the
    * configured dim (JobPipeline commits it as stage 2). */
  def tfidfModel(docs: DataFrame, cacheKey: Option[String] = None): TfIdfModel =
    model(docs, cacheKey, GraftConf.embeddingDim(docs.sparkSession))

  /** (doc_id, embedding) of a (doc_id, text) frame under a fitted model. */
  def embedWith(docs: DataFrame, m: TfIdfModel): DataFrame =
    docs.select(col("doc_id"), TfIdf.embed(col("text"), m).as("embedding"))

  /** Alternative M1 backend: Word2Vec (dense learned vectors, the other
    * public-knowledge stand-in SURVEY §7.1 step 5 names). Seeded;
    * dimension matches the main pipeline so downstream similarity
    * operators are backend-agnostic. Fit parallelism is conf-gated
    * (GraftConf.w2vNumPartitions): the default 1 keeps the fit
    * bit-reproducible, >1 trades that for fit throughput on big corpora
    * (MLlib merges per-partition updates non-deterministically). */
  private val w2vCache = scala.collection.concurrent.TrieMap
    .empty[(String, String), org.apache.spark.ml.feature.Word2VecModel]

  def embedWord2Vec(s: SparkSession, d: String): DataFrame = {
    val dim = GraftConf.embeddingDim(s)
    val parts = GraftConf.w2vNumPartitions(s)
    val docs = Tables.documents(s, d).select(col("doc_id"),
      split(lower(trim(col("text"))), "\\s+").as("toks"))
    // same lifecycle as the main pipeline: session cache + persisted
    // artifact keyed by every fit parameter
    val model = graft.FitTiming.cachedOrFit(w2vCache,
      (sessionKey(s), s"$d@dim=$dim,np=$parts"))(
      ModelStore.loadOrFit(s,
        ModelStore.artifactPath(s, "w2v", d, s"dim=$dim,np=$parts"),
        org.apache.spark.ml.feature.Word2VecModel.load) {
        fitCount.incrementAndGet()
        new org.apache.spark.ml.feature.Word2Vec()
          .setInputCol("toks").setOutputCol("emb")
          .setVectorSize(dim).setMinCount(1).setSeed(42L)
          .setMaxIter(1).setNumPartitions(parts)
          .fit(docs)
      })
    model.transform(docs)
      .select(col("doc_id"), vector_to_array(col("emb")).as("embedding"))
  }

  /** q39: embedding-stage invariant profile — the vectors themselves
    * are murmur3-hashed TF-IDF outputs no SQL engine can replay, but the
    * pipeline's CONTRACT is fully checkable: every document embeds
    * (n_docs), every embedding is exactly conf-dim wide (n_dim_ok), and
    * every vector is unit-norm or exactly zero (n_norm_ok — the L2
    * normalization; zero when IDF kills every term of a doc). The
    * Spark side computes all three from the real vectors; the DuckDB
    * oracle states each must equal count(*) of documents — the
    * shape-invariant oracle round 6 asked for. Per-vector assertions
    * (determinism, no-refit, backend parity) stay in EmbeddingSpec. */
  val q39EmbedPipeline = GraftQuery(
    "q39_embed_pipeline",
    "M1; embedding stage invariants (vectors themselves are murmur3-hashed)",
    (s, d) => {
      val dim = GraftConf.embeddingDim(s)
      embed(s, d)
        .select(
          sqrt(aggregate(col("embedding"), lit(0.0),
            (acc, x) => acc + x * x)).as("norm"),
          size(col("embedding")).as("sz"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum((col("sz") === dim).cast("long")).as("n_dim_ok"),
          sum((abs(col("norm") - 1.0) < 1e-6 || col("norm") === 0.0)
            .cast("long")).as("n_norm_ok"))
    },
    Some("""SELECT count(*) AS n_docs, count(*) AS n_dim_ok,
      count(*) AS n_norm_ok FROM documents"""))

  // ---------------------------------------------------------------------
  // q220/q221: integer-exact PCA over the embedding corpus
  // ---------------------------------------------------------------------

  /** Embeddings with every element integerized to 1e-3 resolution
    * (element-wise round — order-independent, so the scaled corpus is
    * identical under any partitioning and both engines agree bit-for-bit
    * before any aggregation happens). */
  private def intVectors(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d).select(col("vec_id"),
      expr("transform(embedding, v -> CAST(round(CAST(v AS DOUBLE) * 1000, 0) AS BIGINT))")
        .as("x"))

  /** EXACT integer scaled covariance of the integerized embeddings:
    * S = n·Σ x xᵀ − (Σ x)(Σ x)ᵀ, i.e. n² times the covariance of the
    * integer vectors — every entry a BIGINT with no float summation
    * anywhere (the q164 integer-state discipline applied to second
    * moments), so the matrix is hash-exact under any summation order.
    *
    * Scale shape (r10, the Gramian-accumulator form): ONE typed
    * Aggregator pass whose buffer is a primitive `Array[Long]` holding
    * [d, n, max|x|, Σx (d slots), Σxxᵀ (d² slots)] — per input row a
    * tight d² multiply-add loop with NO per-row struct/array
    * materialization (the r9 plan exploded N·d² named_structs through
    * the hash aggregate; at the reference's d=384 that is 147k structs
    * of codegen+hash work per document). Spark plans the Aggregator as
    * ObjectHashAggregate partial → single-row Exchange → final, so the
    * only exchange ships one (3+d+d²)-long array per partition, never
    * corpus rows. The d² (i, j, sv) entries are then unrolled from the
    * ONE state row — model-sized work. Capacity: |sv| ≤ 2·n²·max|x|²
    * is now CHECKED at runtime from the accumulated (n, max|x|) and
    * fails loudly instead of wrapping identically in both engines
    * (ADVICE r9 — overflow was the one failure mode the oracle
    * discipline could not catch). */
  def embeddingCovariance(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val g = intVectors(s, d).select(col("x")).as[Seq[Long]]
      .select(GramianAggregator.toColumn.name("g"))
      .toDF("g")
    // guard BEFORE any sv arithmetic: 2·n²·max|x|² (evaluated in double,
    // so the guard itself cannot overflow) must stay under 2^63
    val guarded = g.where(expr(
      """CASE WHEN 2.0d * CAST(element_at(g, 2) AS DOUBLE) * CAST(element_at(g, 2) AS DOUBLE)
               * CAST(element_at(g, 3) AS DOUBLE) * CAST(element_at(g, 3) AS DOUBLE)
               >= 9.223372036854776e18
         THEN raise_error(concat('embeddingCovariance: BIGINT capacity exceeded at n=',
           CAST(element_at(g, 2) AS STRING), ', max|x|=', CAST(element_at(g, 3) AS STRING),
           ' — drop the element scale (each decimal digit buys 100x in n)'))
         ELSE true END"""))
    // unroll the single state row to (i, j, sv): sv = n·Σxᵢxⱼ − ΣxᵢΣxⱼ.
    // element_at is 1-based; layout: 1=d, 2=n, 3=max|x|, 4..3+d = Σx,
    // 4+d+i*d+j = Σxᵢxⱼ. The d=0 padded state of an empty corpus is
    // dropped (sequence(0, -1) would DESCEND, not yield empty).
    guarded.where(expr("element_at(g, 1) > 0")).select(explode(expr(
      """flatten(transform(sequence(0, CAST(element_at(g, 1) AS INT) - 1), i ->
           transform(sequence(0, CAST(element_at(g, 1) AS INT) - 1), j ->
             named_struct('i', i, 'j', j, 'sv',
               element_at(g, 2) * element_at(g, CAST(4 + element_at(g, 1) + i * element_at(g, 1) + j AS INT))
               - element_at(g, CAST(4 + i AS INT)) * element_at(g, CAST(4 + j AS INT))))))"""))
      .as("e"))
      .select(col("e.i").as("i"), col("e.j").as("j"), col("e.sv").as("sv"))
  }

  /** Exact integer power iteration on the collected d×d scaled
    * covariance (model-sized — collecting 64² entries is the KMeans-
    * centroid/ModelStore discipline, never corpus data): one initial
    * renorm of the matrix and one renorm per round, both as truncating
    * integer division by `max(|·|) div 1e6` (identical semantics in
    * Scala, Spark `div`, and DuckDB `//` — all truncate toward zero),
    * keeping every intermediate under 2^63 with NO float anywhere. The
    * returned loading is the deterministic integer state after `iters`
    * rounds — replayed move-for-move by the unrolled oracle CTEs. */
  private[graft] def pcaPowerLocal(entries: Array[(Int, Int, Long)],
      iters: Int): Array[Long] = {
    val dDim = entries.iterator.map(_._1).max + 1
    val m0 = entries.iterator.map(e => math.abs(e._3)).max
    val dv = math.max(m0 / 1000000L, 1L)
    val c = Array.ofDim[Long](dDim, dDim)
    entries.foreach { case (i, j, v) => c(i)(j) = v / dv }
    var x = Array.fill(dDim)(1000000L)
    for (_ <- 1 to iters) {
      val y = Array.tabulate(dDim) { i =>
        var acc = 0L; var j = 0
        while (j < dDim) { acc += c(i)(j) * x(j); j += 1 }
        acc
      }
      val my = y.iterator.map(math.abs).max
      val dy = math.max(my / 1000000L, 1L)
      x = y.map(_ / dy)
    }
    x
  }

  /** Top principal component of the embedding corpus: per dimension the
    * exact scaled variance (the covariance diagonal) and the integer
    * loading after `iters` power rounds — the dominant semantic axis of
    * an embedding table (whitening/anisotropy diagnostics; the
    * all-but-the-top principal directions are what embedding post-
    * processing removes). Corpus-scale work is the covariance pass; the
    * eigensolve is d×d driver math by design. */
  // The covariance pass is corpus-scale; the loading it yields is a
  // d-row MODEL (the repo's ModelStore discipline). Cache the computed
  // state per (session, dataset, iters) so q221's projection consumes
  // q220's fit instead of re-running the corpus aggregate (ADVICE r9 —
  // the bench was paying the covariance pass twice).
  private val pcaCache = scala.collection.concurrent.TrieMap
    .empty[(String, String, Int), (Array[(Int, Int, Long)], Array[Long])]

  private[graft] def pcaState(s: SparkSession, d: String,
      iters: Int): (Array[(Int, Int, Long)], Array[Long]) =
    graft.FitTiming.cachedOrFit(pcaCache, (sessionKey(s), d, iters)) {
      val entries = embeddingCovariance(s, d).collect()
        .map(r => (r.getInt(0), r.getInt(1), r.getLong(2)))
      (entries, pcaPowerLocal(entries, iters))
    }

  def embeddingPca(s: SparkSession, d: String, iters: Int): DataFrame = {
    import s.implicits._
    val (entries, x) = pcaState(s, d, iters)
    val diag = entries.filter(e => e._1 == e._2).map(e => (e._1, e._3)).toMap
    x.indices.map(i => (i, diag(i), x(i)))
      .toDF("dim_idx", "var_scaled", "loading")
      .orderBy(col("dim_idx"))
  }

  /** Corpus projection onto the top component: score = ⟨x̃, loading⟩
    * per vector, exact integers end-to-end — the consumer side of q220
    * (outlier-axis scores; sorting by |score| surfaces the documents
    * that dominate the top direction). One corpus-linear pass + a
    * broadcast of the d-row loading relation. */
  def pcaProjection(s: SparkSession, d: String, iters: Int): DataFrame = {
    import s.implicits._
    val load = pcaState(s, d, iters)._2.zipWithIndex
      .map { case (l, i) => (i, l) }.toSeq.toDF("i", "loading")
    intVectors(s, d)
      .select(col("vec_id"), posexplode(col("x")).as(Seq("i", "xi")))
      .join(broadcast(load), Seq("i"))
      .groupBy(col("vec_id"))
      .agg(sum(col("xi") * col("loading")).as("score"))
      .orderBy(col("vec_id"))
  }

  /** Shared oracle chain: integerized elements → exact integer scaled
    * covariance → renormed matrix → `iters` unrolled power rounds
    * (y_t = C·x_{t-1}; x_t = y_t div max-renorm), ending in x`iters` —
    * the pageRankScaledSql convention: one template, the Scala loop and
    * the SQL chain cannot drift. */
  private def pcaChainSql(iters: Int): String = {
    // every y_t is referenced twice (d_t and x_t) and x_t feeds y_{t+1}:
    // without MATERIALIZED, DuckDB's CTE inlining re-evaluates the
    // upstream chain per reference — 2^iters blowup (measured: the
    // un-materialized 8-step chain ran minutes; materialized, it is
    // model-sized work). The repo-wide oracle rule applies.
    val steps = (1 to iters).map { t =>
      s"""y$t AS MATERIALIZED (
        SELECT cs.i, CAST(sum(cs.c * p.x) AS BIGINT) AS y
        FROM cs JOIN x${t - 1} p ON p.i = cs.j GROUP BY cs.i),
      d$t AS MATERIALIZED (SELECT greatest(CAST(max(abs(y)) AS BIGINT) // 1000000, 1)
        AS dv FROM y$t),
      x$t AS MATERIALIZED (SELECT i, CAST(y // (SELECT dv FROM d$t) AS BIGINT) AS x
        FROM y$t)"""
    }.mkString(",\n      ")
    s"""ev AS MATERIALIZED (
        SELECT vec_id, CAST((u.e).k AS INTEGER) - 1 AS i,
          CAST(round(CAST((u.e).v AS DOUBLE) * 1000) AS BIGINT) AS x
        FROM (SELECT vec_id, unnest(list_transform(range(1, len(embedding) + 1),
            k -> {'k': k, 'v': embedding[k]})) AS e
          FROM embeddings) u),
      nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM embeddings),
      sums AS (SELECT i, CAST(sum(x) AS BIGINT) AS sx FROM ev GROUP BY i),
      prod AS (
        SELECT a.i AS i, b.i AS j, CAST(sum(a.x * b.x) AS BIGINT) AS sxy
        FROM ev a JOIN ev b USING (vec_id) GROUP BY 1, 2),
      cov AS MATERIALIZED (
        SELECT p.i, p.j,
          CAST((SELECT n FROM nn) * p.sxy - si.sx * sj.sx AS BIGINT) AS sv
        FROM prod p JOIN sums si ON si.i = p.i JOIN sums sj ON sj.i = p.j),
      mv AS (SELECT greatest(CAST(max(abs(sv)) AS BIGINT) // 1000000, 1)
        AS dv FROM cov),
      cs AS MATERIALIZED (
        SELECT i, j, CAST(sv // (SELECT dv FROM mv) AS BIGINT) AS c FROM cov),
      x0 AS (SELECT DISTINCT i, CAST(1000000 AS BIGINT) AS x FROM ev),
      $steps"""
  }

  private val pcaIters = 8

  val q220EmbeddingPca = GraftQuery(
    "q220_embedding_pca",
    "LLM-pipeline vector ext: integer-exact top principal component of the embedding corpus (power iteration, hash-exact state)",
    (s, d) => embeddingPca(s, d, iters = pcaIters),
    Some(s"""WITH ${pcaChainSql(pcaIters)}
      SELECT xt.i AS dim_idx, cv.sv AS var_scaled, xt.x AS loading
      FROM x$pcaIters xt JOIN cov cv ON cv.i = xt.i AND cv.j = xt.i
      ORDER BY dim_idx"""))

  val q221PcaProjection = GraftQuery(
    "q221_pca_projection",
    "LLM-pipeline vector ext: corpus projection onto the top principal axis, exact integer scores",
    (s, d) => pcaProjection(s, d, iters = pcaIters),
    Some(s"""WITH ${pcaChainSql(pcaIters)}
      SELECT e.vec_id, CAST(sum(e.x * l.x) AS BIGINT) AS score
      FROM ev e JOIN x$pcaIters l ON l.i = e.i
      GROUP BY e.vec_id ORDER BY e.vec_id"""))

  def queries: Seq[GraftQuery] =
    Seq(q39EmbedPipeline, q220EmbeddingPca, q221PcaProjection)
}
