package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{GraftQuery, Tables}
import graft.functions.SketchFunctions.toks
import graft.streaming.StreamingJobs

/** N-gram language-model perplexity scoring — the CCNet/Gopher quality
  * gate the heuristic battery (q41) and the distilled classifier (q131)
  * bracket from either side: train a cheap LM on a TRUSTED reference
  * slice, score every document by how surprising the model finds it,
  * and keep/bucket by perplexity (CCNet's head/middle/tail terciles).
  * Public pattern (Wenzek et al., CCNet, LREC 2020; Rae et al., Gopher,
  * §A.1.1); the reference engine has no LM gate — its quality signal is
  * the embedding classifier (`app/generate_embeddings.py:25-50`), which
  * q131 already covers. This tier adds the standard leading filter.
  *
  * Model: interpolated sentinel-prefixed bigram LM,
  *   p(w2 | w1) = 0.75 · C(w1,w2)/C(w1·) + 0.25 · (C(w2)+1)/(T+V+1)
  * with C(w1·) the CONTEXT marginal (Σ_w2 C(w1,w2) — so final tokens
  * never skew denominators), add-one unigram smoothing carrying the UNK
  * mass (an unseen token scores (0+1)/(T+V+1) > 0), and λ = 0.75 chosen
  * as an EXACT binary double so the interpolation arithmetic is
  * bit-identical cross-engine.
  *
  * Hash-stability discipline (the q78/q141 lesson, adapted): perplexity
  * needs a log, so the one transcendental is taken ONCE per distinct
  * corpus bigram and immediately rounded to an integer — the surprisal
  * in MILLI-BITS, round(−1000·log2 p) — after which every aggregate is
  * exact BIGINT arithmetic (the q164 integer-state convention): doc
  * totals are Σ tf·s_mb, means are round-half-up integer division
  * (2·total + n) div (2n). The double inputs to log2 are built by the
  * same IEEE op sequence in both engines, so the only cross-engine
  * freedom is the last ulp of log2 itself, rounded away by the
  * 1000×-integer quantization except on a ~2⁻⁴⁰ knife edge per distinct
  * bigram (not per token).
  *
  * Distribution shape (the 100 TB plan): the bigram stream is built
  * array-side (zip_with over the token array — no window, no extra
  * shuffle), aggregated per (doc, w1, w2) then per doc: two
  * corpus-linear hash shuffles. Model relations are bounded by the
  * reference slice's n-gram vocabulary (Heaps-law growth, like the BPE
  * training state), joined by equi-join; the only cross join is the
  * broadcast 1-row (T, V) totals aggregate (PlanSpec-whitelisted
  * scalar pattern). Nothing quadratic anywhere.
  */
object LanguageModel {

  private def wordsOf(c: Column): Column =
    filter(toks(c), w => w =!= "")

  /** (doc_id, w1, w2): sentinel-prefixed bigram stream — one row per
    * token, w1 = previous token or "&lt;s&gt;" at position 0. Built with
    * zip_with over the token array: no window, no shuffle. */
  private def bigramStream(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), wordsOf(col("text")).as("ws"))
      .filter(size(col("ws")) > 0)
      .select(col("doc_id"), explode(zip_with(
        concat(array(lit("<s>")), slice(col("ws"), lit(1), size(col("ws")) - 1)),
        col("ws"),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("bg"))
      .select(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))

  /** The additive model state: (w1, w2, c2) bigram counts. This ONE
    * relation determines the whole model — the context marginal, the
    * unigram counts (every train token occurs exactly once as w2 of the
    * sentinel stream), and the (T, V) totals all derive from it — which
    * is what makes the streamed q209 state a single mergeable
    * relation. */
  private[graft] def bigramCounts(docs: DataFrame): DataFrame =
    bigramStream(docs).groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("c2"))

  // The bigram-count MODEL as a maintained relation — two layers, the
  // tokenized-corpus treatment (round 16, VERDICT r15 Next #1:
  // docSurprisal re-derived the model per invocation, which made
  // q206/q207 the r15 driver bench's top oob rows at 5.9×/7.7× under
  // load, with no caches: entry to classify them):
  //  - ACROSS JVMs: with the model store on, a w1-bucketed catalog
  //    table per (dataset, trainPred) via
  //    [[StoredTables.storedBucketedTable]] — a fresh session
  //    re-registers the committed files with one DDL instead of
  //    re-running tokenize → zip_with → count over the train slice.
  //    The relation is vocabulary-bounded (Heaps-law growth, like the
  //    BPE merge table), so a small fixed bucket count suffices; w1
  //    bucketing lets the c1ctx context-marginal aggregate and the w1
  //    side of the smb join plan off the stored partitioning.
  //  - IN-SESSION: cached + persisted per (session, dataset, pred,
  //    store) through [[graft.FitTiming.cachedOrFit]], so Bench emits
  //    `caches:{q206…,q209…}` and a cross-round swing classifies from
  //    the artifacts alone (tools/bench_diff.py's cold-fit rule).
  // The streamed q209 model does NOT route here: its state is trained
  // incrementally through StreamingJobs.applyLmCountBatch and must
  // reflect exactly the folded batches — only its corpus-side scoring
  // tf rides [[corpusTf]].
  private val LmModelBuckets = 8
  private val lmModelCache =
    scala.collection.concurrent.TrieMap.empty[(String, String), DataFrame]
  private val lmTfCache =
    scala.collection.concurrent.TrieMap.empty[(String, String), DataFrame]

  private def sessionKey(s: SparkSession): String =
    System.identityHashCode(s).toString

  private[graft] def storedBigramCounts(s: SparkSession, d: String,
      trainPred: Column): DataFrame = {
    // textual identity of the train predicate (deterministic across
    // JVMs for the column expressions the registered queries use).
    // Column.toString renders the column NODE's sql — NOT
    // GraftColumnBridge.expression(...).sql, which under Spark 4's lazy
    // ColumnNodeExpression wrapper collapses every predicate to the
    // same generic string (two different preds would share one cache
    // slot and the artifact path — the raw model silently serving the
    // target model's counts)
    val predSql = trainPred.toString
    // readable sanitized prefix + 32-bit hash: the prefix keeps distinct
    // predicates from ever sharing an artifact path on a hash collision
    // (a silent wrong-model serve the LOCATION check cannot catch)
    val predTag = predSql.replaceAll("[^A-Za-z0-9]", "").take(24) + "_" +
      java.lang.Long.toHexString(
        scala.util.hashing.MurmurHash3.stringHash(predSql).toLong & 0xffffffffL)
    val store = graft.GraftConf.indexDir(s).getOrElse("off")
    val key = (sessionKey(s), s"$d|pred=$predTag|store=$store")
    graft.FitTiming.cachedOrFit(lmModelCache, key) {
      StoredTables.storedBucketedTable(s, "lm_bigrams", "lmbg", d,
        s"pred=$predTag,bk=$LmModelBuckets",
        "w1 STRING, w2 STRING, c2 BIGINT", "w1", LmModelBuckets)(
        bigramCounts(Tables.documents(s, d).filter(trainPred))).persist()
    }
  }

  /** The corpus-side scoring relation (doc_id, w1, w2, tf), cached
    * in-session per (session, dataset): all four LM queries (and
    * q208's two model arms) score the SAME corpus, so the linear
    * tokenize → bigram → count pass runs once per session, not once
    * per invocation. In-session only (no stored table): it is one
    * linear derivable pass, and the cross-JVM cost that made q206/q207
    * oob rows was the per-query model re-derivation, which the stored
    * model above retires. */
  private def corpusTf(s: SparkSession, d: String): DataFrame = {
    val key = (sessionKey(s), d)
    graft.FitTiming.cachedOrFit(lmTfCache, key) {
      bigramStream(Tables.documents(s, d))
        .groupBy(col("doc_id"), col("w1"), col("w2"))
        .agg(count(lit(1)).as("tf")).persist()
    }
  }

  private[graft] def clearCache(): Unit = {
    lmModelCache.values.foreach(_.unpersist())
    lmModelCache.clear()
    lmTfCache.values.foreach(_.unpersist())
    lmTfCache.clear()
  }

  /** Derive (c1ctx, c1, tot) from a committed bigram-count relation. */
  private def modelFromCounts(c2: DataFrame)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val c1ctx = c2.groupBy(col("w1")).agg(sum(col("c2")).as("c1ctx"))
    val c1 = c2.groupBy(col("w2")).agg(sum(col("c2")).as("c1"))
    val tot = c2.agg(sum(col("c2")).as("t"), countDistinct(col("w2")).as("v"))
    (c2, c1ctx, c1, tot)
  }

  /** Per-document surprisal under the reference-slice LM:
    * (doc_id, n_tokens, total_millibits, mean_millibits). Train slice
    * defaults to the English documents (the "trusted corpus" stand-in —
    * CCNet trains on Wikipedia). */
  def docSurprisal(s: SparkSession, d: String,
      trainPred: Column = col("lang") === "en"): DataFrame =
    scoreWith(corpusTf(s, d),
      modelFromCounts(storedBigramCounts(s, d, trainPred)))

  /** The scoring tail against explicit model relations — shared by the
    * batch path and the drained q209 streamed state. `tf` is the
    * corpus-side (doc_id, w1, w2, tf) relation ([[corpusTf]]). */
  private def scoreWith(tf: DataFrame,
      model: (DataFrame, DataFrame, DataFrame, DataFrame)): DataFrame = {
    val (c2, c1ctx, c1, tot) = model
    val dist = tf.select(col("w1"), col("w2")).distinct()
    // identical IEEE op order to the oracle SQL: (0.75·cond) + (0.25·uni)
    val p = lit(0.75) * when(coalesce(col("c1ctx"), lit(0L)) > 0,
        coalesce(col("c2"), lit(0L)).cast("double") / col("c1ctx").cast("double"))
      .otherwise(lit(0.0)) +
      lit(0.25) * ((coalesce(col("c1"), lit(0L)) + lit(1L)).cast("double") /
        (col("t") + col("v") + lit(1L)).cast("double"))
    val smb = dist
      .join(c2, Seq("w1", "w2"), "left")
      .join(c1ctx, Seq("w1"), "left")
      .join(c1, Seq("w2"), "left")
      .crossJoin(broadcast(tot))
      .select(col("w1"), col("w2"),
        round(lit(-1000.0) * log2(p), 0).cast("long").as("s_mb"))
    tf.join(smb, Seq("w1", "w2"))
      .groupBy(col("doc_id"))
      .agg(sum(col("tf")).as("n_tokens"),
        sum(col("tf") * col("s_mb")).as("total_millibits"))
      .select(col("doc_id"), col("n_tokens"), col("total_millibits"),
        expr("(2 * total_millibits + n_tokens) div (2 * n_tokens)")
          .as("mean_millibits"))
  }

  /** CCNet head/middle/tail: exact tercile cutoffs on mean surprisal
    * via [[graft.plans.Scale.groupExactRank]] (two bounded group-local
    * passes — no global sort), label by VALUE comparison (deterministic
    * under ties), profile per (tercile, source). */
  def perplexityTerciles(s: SparkSession, d: String): DataFrame = {
    // materialize the scored relation ONCE (one row per doc — corpus-
    // bounded, executor-resident): the tercile locator's broadcast
    // subtrees (bounds, bin counts, located ranks, the cuts crossJoin)
    // otherwise re-evaluate the whole scoring chain ~7× — measured
    // 10.8 s vs 1.9 s warm at sf0.1 (r16, after the model/tf caches
    // landed; the pre-r16 inline chain paid the same 7× on a cheaper
    // per-evaluation cost, 4.2 s)
    val doc = graft.Mat(docSurprisal(s, d))
    val r = doc.select(lit("all").as("g"), col("mean_millibits").as("v"))
    val cuts = graft.plans.Scale.groupExactRank(s, r, "g", Seq(1.0 / 3, 2.0 / 3))
      .agg(min(when(col("p") < 0.5, col("value"))).as("cut1"),
        min(when(col("p") > 0.5, col("value"))).as("cut2"))
    doc.crossJoin(broadcast(cuts))
      .select(col("doc_id"), col("n_tokens"), col("mean_millibits"),
        when(col("mean_millibits") <= col("cut1"), lit("head"))
          .when(col("mean_millibits") <= col("cut2"), lit("middle"))
          .otherwise(lit("tail")).as("tercile"))
      .join(Tables.documents(s, d).select(col("doc_id"), col("source")),
        Seq("doc_id"))
      .groupBy(col("tercile"), col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("tokens"),
        sum(col("mean_millibits")).as("sum_mb"))
      .select(col("tercile"), col("source"), col("n_docs"), col("tokens"),
        expr("(2 * sum_mb + n_docs) div (2 * n_docs)").as("avg_millibits"))
      .orderBy(col("tercile"), col("source"))
  }

  /** DSIR-style importance weights (Xie et al. 2023, §2 — public
    * pattern): log w(x) = log p_target(x) − log p_raw(x), here in exact
    * integer milli-bits as delta_millibits = total_raw − total_target
    * (positive ⇔ the document looks more like the reference slice than
    * like the corpus at large). Both models run the same scoring path;
    * the subtraction is BIGINT. Selection is the deterministic top-m by
    * (delta desc, doc_id) — TakeOrderedAndProject, no global sort. */
  def importanceWeights(s: SparkSession, d: String): DataFrame = {
    val target = docSurprisal(s, d)
    val raw = docSurprisal(s, d, lit(true))
    target.select(col("doc_id"), col("n_tokens"),
        col("total_millibits").as("mb_target"))
      .join(raw.select(col("doc_id"), col("total_millibits").as("mb_raw")),
        Seq("doc_id"))
      .select(col("doc_id"), col("n_tokens"),
        (col("mb_raw") - col("mb_target")).as("delta_millibits"))
  }

  /** Shared oracle chain: the verbatim SQL replay of the LM train +
    * score path down to `docm` (doc_id, n_tokens, total_millibits,
    * mean_millibits). `trainPred` is a SQL predicate over (lang) rows
    * of the bigram stream. Multi-referenced CTEs are MATERIALIZED
    * (DuckDB inlining re-evaluates the chain per reference). */
  private def corpusChain: String =
    """WITH ws AS MATERIALIZED (
        SELECT doc_id, lang,
          list_filter(string_split_regex(lower(trim(text)), '\s+'),
            w -> w <> '') AS ws
        FROM documents),
      tok AS MATERIALIZED (
        SELECT doc_id, lang, (u.e).i AS pos, (u.e).w AS w2 FROM (
          SELECT doc_id, lang, unnest(list_transform(range(1, len(ws) + 1),
            i -> {'i': i, 'w': ws[i]})) AS e
          FROM ws) u),
      bg AS MATERIALIZED (
        SELECT doc_id, lang,
          lag(w2, 1, '<s>') OVER (PARTITION BY doc_id ORDER BY pos) AS w1,
          w2
        FROM tok),
      tf AS MATERIALIZED (
        SELECT doc_id, w1, w2, count(*) AS tf FROM bg GROUP BY 1, 2, 3),
      dist AS MATERIALIZED (SELECT DISTINCT w1, w2 FROM tf)"""

  /** The train + score chain of ONE model, CTE names suffixed so the
    * q208 importance ratio can carry a target and a raw model in the
    * same statement. */
  private def modelChain(trainPred: String, x: String): String =
    s"""tbg$x AS MATERIALIZED (SELECT w1, w2 FROM bg WHERE $trainPred),
      c2$x AS MATERIALIZED (SELECT w1, w2, count(*) AS c2 FROM tbg$x GROUP BY 1, 2),
      c1ctx$x AS MATERIALIZED (
        SELECT w1, CAST(sum(c2) AS BIGINT) AS c1ctx FROM c2$x GROUP BY 1),
      c1$x AS MATERIALIZED (SELECT w2, count(*) AS c1 FROM tbg$x GROUP BY 1),
      tot$x AS (SELECT count(*) AS t, count(DISTINCT w2) AS v FROM tbg$x),
      smb$x AS MATERIALIZED (
        SELECT dist.w1, dist.w2,
          CAST(round(-1000.0 * log2(
            0.75 * (CASE WHEN coalesce(cc.c1ctx, 0) > 0
              THEN CAST(coalesce(c2$x.c2, 0) AS DOUBLE)
                / CAST(cc.c1ctx AS DOUBLE)
              ELSE 0.0 END)
            + 0.25 * (CAST(coalesce(c1$x.c1, 0) + 1 AS DOUBLE)
              / CAST(t + v + 1 AS DOUBLE)))) AS BIGINT) AS s_mb
        FROM dist
        LEFT JOIN c2$x ON dist.w1 = c2$x.w1 AND dist.w2 = c2$x.w2
        LEFT JOIN c1ctx$x cc ON dist.w1 = cc.w1
        LEFT JOIN c1$x ON dist.w2 = c1$x.w2
        CROSS JOIN tot$x),
      doc$x AS MATERIALIZED (
        SELECT tf.doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
          CAST(sum(tf * s_mb) AS BIGINT) AS total_millibits
        FROM tf JOIN smb$x ON tf.w1 = smb$x.w1 AND tf.w2 = smb$x.w2
        GROUP BY 1),
      docm$x AS MATERIALIZED (
        SELECT doc_id, n_tokens, total_millibits,
          (2 * total_millibits + n_tokens) // (2 * n_tokens) AS mean_millibits
        FROM doc$x)"""

  private def lmDocChain(trainPred: String): String =
    s"""$corpusChain,
      ${modelChain(trainPred, "")}"""

  private val TrainPredSql = "lang = 'en'"

  /** q206: per-document LM perplexity scores. */
  val q206LmPerplexity = GraftQuery(
    "q206_lm_perplexity",
    "LLM-pipeline: interpolated bigram LM surprisal per doc (CCNet gate)",
    (s, d) => docSurprisal(s, d).orderBy(col("doc_id")),
    Some(s"""${lmDocChain(TrainPredSql)}
      SELECT doc_id, n_tokens, total_millibits, mean_millibits
      FROM docm ORDER BY doc_id"""))

  /** q207: CCNet head/middle/tail perplexity partition profile. */
  val q207PerplexityTerciles = GraftQuery(
    "q207_perplexity_terciles",
    "LLM-pipeline: head/middle/tail perplexity terciles by source (CCNet)",
    (s, d) => perplexityTerciles(s, d),
    Some(s"""${lmDocChain(TrainPredSql)},
      o AS (SELECT mean_millibits AS v,
          row_number() OVER (ORDER BY mean_millibits) AS rn FROM docm),
      nn AS (SELECT count(*) AS n FROM docm),
      ks AS (SELECT p, CAST(ceil(p * n) AS BIGINT) AS k
        FROM (VALUES (CAST(1 AS DOUBLE) / 3), (CAST(2 AS DOUBLE) / 3)) pv(p)
        CROSS JOIN nn),
      cut AS (SELECT
          max(CASE WHEN p < 0.5 THEN v END) AS cut1,
          max(CASE WHEN p > 0.5 THEN v END) AS cut2
        FROM ks JOIN o ON o.rn = ks.k),
      lab AS (SELECT dm.doc_id, dm.n_tokens, dm.mean_millibits,
          CASE WHEN mean_millibits <= cut1 THEN 'head'
               WHEN mean_millibits <= cut2 THEN 'middle'
               ELSE 'tail' END AS tercile
        FROM docm dm CROSS JOIN cut)
      SELECT tercile, dd.source, count(*) AS n_docs,
        CAST(sum(n_tokens) AS BIGINT) AS tokens,
        (2 * CAST(sum(mean_millibits) AS BIGINT) + count(*))
          // (2 * count(*)) AS avg_millibits
      FROM lab JOIN documents dd ON lab.doc_id = dd.doc_id
      GROUP BY 1, 2 ORDER BY tercile, source"""))

  /** q208: DSIR importance selection — the m most reference-like docs. */
  val q208ImportanceSelect = GraftQuery(
    "q208_importance_select",
    "LLM-pipeline: DSIR importance weights (target vs raw LM), top-m draw",
    (s, d) => importanceWeights(s, d)
      .orderBy(col("delta_millibits").desc, col("doc_id"))
      .limit(100),
    Some(s"""$corpusChain,
      ${modelChain(TrainPredSql, "_t")},
      ${modelChain("TRUE", "_r")}
      SELECT t.doc_id, t.n_tokens,
        (r.total_millibits - t.total_millibits) AS delta_millibits
      FROM docm_t t JOIN docm_r r ON t.doc_id = r.doc_id
      ORDER BY delta_millibits DESC, t.doc_id LIMIT 100"""))

  /** q209: the TENTH streamed/batch pairing — the reference-slice LM
    * trained INCREMENTALLY. Document batches fold their bigram counts
    * into the additive (w1, w2, c2) state on the versioned exactly-once
    * contract ([[graft.streaming.StreamingJobs.applyLmCountBatch]]);
    * the drained state derives the full model on read and scores the
    * corpus through the same tail, so the output is bit-identical to
    * q206 and carries its full oracle. Additive like CMS / c-TF-IDF /
    * q204: overlapping redelivery inflates counts — dedup upstream or
    * fingerprint-guard as there. */
  def streamedDocSurprisal(s: SparkSession, d: String,
      nBatches: Int): DataFrame = {
    val train = Tables.documents(s, d).filter(col("lang") === "en")
    val c2 = StreamingJobs.drain(s, "graft_lm_state", train, "doc_id", nBatches) {
      (b, id, dir) => StreamingJobs.applyLmCountBatch(s, b, id, dir)
    }
    scoreWith(corpusTf(s, d), modelFromCounts(c2))
  }

  val q209StreamedLm = GraftQuery(
    "q209_streamed_lm",
    "LLM-pipeline + streaming: incrementally trained LM state, batch-identical scoring (carries q206's oracle)",
    (s, d) => streamedDocSurprisal(s, d, nBatches = 3).orderBy(col("doc_id")),
    Some(s"""${lmDocChain(TrainPredSql)}
      SELECT doc_id, n_tokens, total_millibits, mean_millibits
      FROM docm ORDER BY doc_id"""))

  def queries: Seq[GraftQuery] =
    Seq(q206LmPerplexity, q207PerplexityTerciles, q208ImportanceSelect,
      q209StreamedLm)
}
