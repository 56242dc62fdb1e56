package graft.plans

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{GraftQuery, Tables}
import graft.functions.SketchFunctions.{md5Long, shingleArray, toks}
import graft.operators.{Dedup, QualityFilter, TextAnalysis}
import graft.streaming.StreamingJobs

/** The end-to-end LLM training-data curation pipeline — the engine's
  * operators COMPOSED into the product-shaped chain (every stage exists
  * as a registered, individually-oracled query; this is the artifact a
  * user actually ships):
  *
  *   gate (q46 heuristics + exact content dedup) →
  *   [classifier score (q131), conf-gated] →
  *   sketch near-dup dedup (q59, J ≥ 0.8) →
  *   substring excision (the destructive half of q161/q162) →
  *   eval decontamination (q109/q133 semantics: the md5 ≥ 90 bucket is
  *     the held-out benchmark; it and every doc sharing an 8-shingle
  *     with it leave the corpus) →
  *   leakage-safe split (q183: cluster-atomic 80/10/10) →
  *   temperature mixture draw over the train split (q184, α = 1/2) →
  *   sequence packing (q48's rule, 512 REAL BPE tokens since r9).
  *
  * Each stage materializes through [[Pipeline]]'s `_DONE`-guarded stage
  * cache, so a crashed 100 TB run resumes from the last committed stage
  * (PipelineSpec proves resume recomputes only invalidated suffixes).
  * The deliverable is the MANIFEST: one row per stage with surviving
  * row count, token count, and an order-independent content
  * fingerprint (bit_xor over md5-derived 60-bit row keys — the q130
  * content-proof pattern), so the whole chain is hash-checked by the
  * DuckDB oracle end-to-end. The classifier stage is seeded-model
  * (not SQL-expressible) and ships OFF in the registered query;
  * PipelineSpec exercises the chain with it on.
  *
  * Scale shape (SCALE.md has the shuffle inventory): every stage is the
  * registered operator's plan — no stage introduces a join or shuffle
  * the standalone form doesn't have — and stage boundaries are exactly
  * where a cluster run would repartition/bucket for the next stage's
  * keys.
  */
object CurationPipeline {

  /** md5-bucket of a long id/cluster into [0, 100) — the q76/q183
    * split convention. */
  private def bucket100(c: Column): Column =
    md5Long(c.cast("string"), 8) % 100

  /** 60-bit md5-derived row key over `parts` joined with chr(1) — the
    * q130 fingerprint convention. */
  private[graft] def rowKey(parts: Column*): Column =
    md5Long(concat_ws("\u0001", parts.map(_.cast("string")): _*), 15)

  // -------------------------------------------------------------------
  // The stage computations as pure frame transforms — ONE definition
  // shared by the staged batch runner (runStages wraps each in the
  // `_DONE` stage cache) and the streamed twin (StreamingJobs
  // .applyCurationBatch maintains the gate incrementally; the suffix
  // derives from the committed state at read time), so the two forms
  // cannot drift apart semantically.
  // -------------------------------------------------------------------

  /** Gate stage: q46 heuristics + exact content dedup (richest copy per
    * content fingerprint survives). The heuristic gates are
    * per-document and the per-fp keep-richest is an associative argmax,
    * so gate(A ∪ B) = gate(gate(A) ∪ B) — the property that makes the
    * streamed twin's incremental merge exact under ANY arrival order. */
  private[graft] def gateStage(s0: DataFrame): DataFrame =
    s0.join(TextAnalysis.corpusGateDeduped(s0).select(col("doc_id")),
      Seq("doc_id"), "left_semi")

  /** Sketch near-dup dedup (q59, J >= 0.8 drops the higher id). */
  private[graft] def sketchDedupStage(s1c: DataFrame): DataFrame =
    s1c.join(Dedup.verifiedPairsFrame(s1c, threshold = 0.8)
      .select(col("id2").as("doc_id")).distinct(),
      Seq("doc_id"), "left_anti")

  /** Substring excision (the destructive half of q161/q162). */
  private[graft] def exciseStage(s2: DataFrame): DataFrame =
    Dedup.exciseSpansFrame(s2, n = 5, minLen = 20, maxOcc = 100)

  /** Eval decontamination (q109/q133 semantics: md5 bucket >= 90 is the
    * held-out benchmark; it and every doc sharing an 8-shingle with it
    * leave the corpus). */
  private[graft] def decontaminateStage(s3: DataFrame): DataFrame = {
    val keyed = s3.withColumn("b", bucket100(col("doc_id")))
    val sh = keyed
      .select(col("doc_id"), col("b"), toks(col("text")).as("t"))
      .filter(size(col("t")) >= 8)
      .select(col("doc_id"), col("b"),
        explode(shingleArray(col("t"), 8)).as("sgl"))
    val bench = sh.filter(col("b") >= 90).select(col("sgl")).distinct()
    val hit = sh.filter(col("b") < 90)
      .join(bench, Seq("sgl"), "left_semi")
      .select(col("doc_id")).distinct()
    keyed.filter(col("b") < 90)
      .join(hit, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("text"), col("lang"), col("source"))
  }

  /** Leakage-safe split (q183: cluster-atomic 80/10/10). */
  private[graft] def splitStage(s4: DataFrame): DataFrame = {
    val clusters = Dedup.dupClusterFrame(s4, threshold = 0.8)
      .withColumn("b5", bucket100(col("cluster_id")))
      .select(col("doc_id"),
        when(col("b5") < 80, "train").when(col("b5") < 90, "val")
          .otherwise("test").as("split"))
    s4.join(clusters, Seq("doc_id"))
      .select(col("doc_id"), col("text"), col("lang"), col("source"), col("split"))
  }

  /** Temperature mixture draw over the train split (q184, α = 1/2). */
  private[graft] def mixtureStage(s5: DataFrame, budget: Int): DataFrame = {
    val train = s5.filter(col("split") === "train")
      .select(col("doc_id"), col("text"), col("lang"), col("source"))
    train.join(TextAnalysis.temperatureMixtureSample(
        train, "source", "doc_id", budget).select(col("doc_id")),
      Seq("doc_id"), "left_semi")
  }

  /** Sequence packing (q48's rule, 512-token budget) — budgeted by the
    * REAL BPE token counts of the q196 tokenizer since round 9, not
    * the whitespace proxy: the chain trains/loads the corpus tokenizer
    * artifact (k=6, frozen on the INPUT table `d` — the same artifact
    * every registered tokenizer query ships) and bins the mixture draw
    * by what a trainer actually consumes. The q48 whitespace form
    * stays registered as the cheap estimate. */
  private[graft] def packStage(s: SparkSession, d: String,
      s6: DataFrame): DataFrame = {
    val model = TextAnalysis.bpeModel(s, d, 6)
    val enc = TextAnalysis.bpeEncodeDocs(s6, model)
      .select(col("doc_id"), col("n_tokens"))
    TextAnalysis.packByTokens(
      s6.select(col("doc_id"), col("source")).join(enc, Seq("doc_id"))
        .select(col("doc_id"), col("source"),
          col("n_tokens").cast("long").as("n_tok")),
      budget = 512L)
  }

  /** The deterministic post-gate chain over an s1-shaped frame, in
    * manifest order, with each stage materialized ([[graft.Mat]]) so
    * lineage stays flat between stages. */
  private[graft] def suffixStages(s: SparkSession, d: String,
      s1c: DataFrame, budget: Int): Seq[(String, DataFrame)] = {
    val s2 = graft.Mat(sketchDedupStage(s1c))
    val s3 = graft.Mat(exciseStage(s2))
    val s4 = graft.Mat(decontaminateStage(s3))
    val s5 = graft.Mat(splitStage(s4))
    val s6 = graft.Mat(mixtureStage(s5, budget))
    val s7 = graft.Mat(packStage(s, d, s6))
    Seq("sketch_dedup" -> s2, "excise" -> s3, "decontaminate" -> s4,
      "split" -> s5, "mixture" -> s6, "pack" -> s7)
  }

  /** One manifest row over a doc-shaped stage output. */
  private def docManifestRow(ord: Int, name: String, docs: DataFrame,
      extraKey: Seq[String] = Nil): DataFrame =
    docs.select(
      rowKey((Seq(col("doc_id")) ++ extraKey.map(col) :+ col("text")): _*).as("rk"),
      size(toks(col("text"))).cast("long").as("n_tok"))
      .agg(count(lit(1)).as("n_rows"),
        coalesce(sum(col("n_tok")), lit(0L)).as("n_tokens"),
        coalesce(expr("bit_xor(rk)"), lit(0L)).as("fp"))
      .select(lit(ord).as("ord"), lit(name).as("stage"),
        col("n_rows"), col("n_tokens"), col("fp"))

  /** Run the staged chain under `workDir`, returning the per-stage
    * outputs in order. Stage names are stable — they key the on-disk
    * stage cache. */
  def runStages(s: SparkSession, d: String, workDir: String,
      withClassifier: Boolean, budget: Int): Seq[(String, DataFrame)] = {
    val pipe = new Pipeline(s, workDir)
    // the stage cache is keyed by stage NAME only, so every run
    // parameter that changes a stage's content is folded into the
    // names: stages downstream of the classifier fork carry the gate
    // tag, mixture/pack additionally carry the budget — a resume
    // against the same persistent workDir with different parameters
    // misses the cache instead of silently serving another run's
    // committed stages.
    val gateTag = if (withClassifier) "clf" else "hx"
    val s0 = Tables.documents(s, d)
      .select(col("doc_id"), col("text"), col("lang"), col("source"))
    val s1 = pipe.stage("s1_gate") { gateStage(s0) }
    val s1c =
      if (!withClassifier) s1
      else pipe.stage("s1c_classifier") {
        s1.join(QualityFilter.scored(s, d).filter(col("keep") === 1)
          .select(col("doc_id")), Seq("doc_id"), "left_semi")
      }
    val s2 = pipe.stage(s"s2_sketch_dedup_$gateTag") { sketchDedupStage(s1c) }
    val s3 = pipe.stage(s"s3_excise_$gateTag") { exciseStage(s2) }
    val s4 = pipe.stage(s"s4_decontaminate_$gateTag") { decontaminateStage(s3) }
    val s5 = pipe.stage(s"s5_split_$gateTag") { splitStage(s4) }
    val s6 = pipe.stage(s"s6_mixture_${gateTag}_b$budget") { mixtureStage(s5, budget) }
    val s7 = pipe.stage(s"s7_pack_${gateTag}_b$budget") { packStage(s, d, s6) }
    Seq("input" -> s0, "gate" -> s1) ++
      (if (withClassifier) Seq("classifier" -> s1c) else Nil) ++
      Seq("sketch_dedup" -> s2, "excise" -> s3, "decontaminate" -> s4,
        "split" -> s5, "mixture" -> s6, "pack" -> s7)
  }

  /** The manifest relation over a completed stage chain. */
  def manifest(stages: Seq[(String, DataFrame)]): DataFrame =
    manifestRows(stages, 0).orderBy(col("ord"))

  /** Manifest over the streamed twin's committed state
    * (StreamingJobs.applyCurationBatch): the input row from the
    * set-deduped (doc_id, n_tok, rk) counters, the gate row from the
    * incrementally-maintained s1 survivor relation, and the suffix
    * derived by the SAME stage transforms the batch runner
    * materializes — so the drained-state manifest equals the one-shot
    * q193 manifest exactly. */
  private[graft] def manifestFromState(s: SparkSession, d: String,
      state: DataFrame, budget: Int): DataFrame = {
    val inRow = state.filter(col("rel") === "in")
      .agg(count(lit(1)).as("n_rows"),
        coalesce(sum(col("n_tok")), lit(0L)).as("n_tokens"),
        coalesce(expr("bit_xor(rk)"), lit(0L)).as("fp"))
      .select(lit(0).as("ord"), lit("input").as("stage"),
        col("n_rows"), col("n_tokens"), col("fp"))
    val s1 = graft.Mat(state.filter(col("rel") === "s1")
      .select(col("doc_id"), col("text"), col("lang"), col("source")))
    val rest = manifestRows(Seq("gate" -> s1) ++ suffixStages(s, d, s1, budget), 1)
    inRow.unionByName(rest).orderBy(col("ord"))
  }

  private def manifestRows(stages: Seq[(String, DataFrame)], off: Int): DataFrame =
    stages.zipWithIndex.map { case ((name, df), i) =>
      val ord = i + off
      name match {
        case "split" => docManifestRow(ord, name, df, extraKey = Seq("split"))
        case "pack" => df
          .select(rowKey(col("source"), col("shard"), col("seq_id"),
            col("n_docs"), col("n_tokens")).as("rk"), col("n_tokens"))
          .agg(count(lit(1)).as("n_rows"),
            coalesce(sum(col("n_tokens")), lit(0L)).as("n_tokens"),
            coalesce(expr("bit_xor(rk)"), lit(0L)).as("fp"))
          .select(lit(ord).as("ord"), lit(name).as("stage"),
            col("n_rows"), col("n_tokens"), col("fp"))
        case _ => docManifestRow(ord, name, df)
      }
    }.reduce(_ unionByName _).orderBy(col("ord"))

  /** Staged run + manifest (the registered-query form). With the model
    * store on, the stage workDir is a PERSISTENT, dataset-fingerprinted
    * artifact path (round 13) — committed stages survive the session,
    * so a re-run of the pipeline on unchanged data resumes from the
    * `_DONE` markers instead of recomputing the chain, and q193/q194
    * share their common prefix (stage names carry the classifier fork
    * and budget, so divergent suffixes never collide). This is the S10
    * stage cache doing its actual job across runs — the reference skips
    * completed pipeline steps by file existence the same way
    * (app/main.py:110-123); at 100 TB these stage dirs ARE the
    * materialized pipeline a production run resumes from. The
    * fingerprint in the path self-invalidates on data regeneration
    * (the ModelStore discipline). Store off → a throwaway staging dir
    * (StreamingJobs.withStagingDir), deleted after the run. Either way
    * the manifest is materialized (graft.Mat), so the returned frame
    * never depends on the workDir's lifetime. */
  def runManifest(s: SparkSession, d: String, withClassifier: Boolean,
      budget: Int): DataFrame = {
    def run(work: String) = graft.Mat(manifest(runStages(s, d, work, withClassifier, budget)))
    graft.operators.ModelStore.artifactPath(s, "curation_stages", d, "v1") match {
      case Some(work) => run(work)
      case None => StreamingJobs.withStagingDir(s, "graft_curation_pipe")(run)
    }
  }

  /** Per-stage DuckDB replay of the whole chain (classifier off) — one
    * WITH RECURSIVE chain; each stage's SQL is the proven form of its
    * standalone oracle (q46/q59/q161-q162/q109/q64+q183/q184/q48),
    * re-rooted at the previous stage's CTE. Every stage CTE is
    * MATERIALIZED: stages are referenced 2-3 times (next stage + its
    * manifest row), and DuckDB's default inlining re-evaluates the
    * whole upstream chain per reference — compounding to a hang; with
    * materialization each stage runs once, like the Spark side. */
  private val manifestOracle: String = {
    val sigList = (0 to 7)
      .map(i => s"list_min(list_transform(sh, s -> md5('$i:' || s)))")
      .mkString("[", ",\n           ", "]")
    // the q59/q64 minhash front half over an arbitrary doc CTE
    def minhashVer(p: String, from: String): String =
      s"""${p}_tk AS MATERIALIZED (
        SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks
        FROM $from),
      ${p}_sh AS MATERIALIZED (
        SELECT doc_id, list_distinct(list_transform(range(1, len(toks)-1),
          i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
        FROM ${p}_tk WHERE len(toks) >= 3),
      ${p}_sig AS MATERIALIZED (
        SELECT doc_id, $sigList AS sig
        FROM ${p}_sh),
      ${p}_bands AS MATERIALIZED (
        SELECT doc_id, b, sig[2*b+1] || '|' || sig[2*b+2] AS key
        FROM ${p}_sig CROSS JOIN (SELECT unnest(range(0, 4)) AS b)),
      ${p}_cand AS MATERIALIZED (
        SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
        FROM ${p}_bands a JOIN ${p}_bands b
          ON a.b = b.b AND a.key = b.key AND a.doc_id < b.doc_id),
      ${p}_ver AS MATERIALIZED (
        SELECT c.id1, c.id2,
          round(len(list_intersect(x.sh, y.sh))::DOUBLE /
            (len(x.sh) + len(y.sh) - len(list_intersect(x.sh, y.sh))), 4) AS jaccard
        FROM ${p}_cand c JOIN ${p}_sh x ON c.id1 = x.doc_id
          JOIN ${p}_sh y ON c.id2 = y.doc_id)"""
    def docRow(ord: Int, name: String, from: String, key: String): String =
      s"""SELECT $ord AS ord, '$name' AS stage, count(*) AS n_rows,
        coalesce(CAST(sum(len(string_split_regex(lower(trim(text)), '\\s+'))) AS BIGINT), 0) AS n_tokens,
        coalesce(CAST(bit_xor(('0x' || substr(md5($key), 1, 15))::BIGINT) AS BIGINT), 0) AS fp
      FROM $from"""
    val docKey = "doc_id::VARCHAR || chr(1) || text"
    s"""WITH RECURSIVE
      s0 AS MATERIALIZED (SELECT doc_id, text, lang, source FROM documents),
      -- stage 1: q46 gates + content-fp dedup (richest copy survives)
      g_tk AS MATERIALIZED (
        SELECT doc_id, lang, source, text,
          md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp,
          string_split_regex(lower(trim(text)), '\\s+') AS t
        FROM s0),
      g_gr AS MATERIALIZED (
        SELECT *, CASE WHEN len(t) >= 2
            THEN list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])
            ELSE [] END AS g
        FROM g_tk),
      g_sc AS MATERIALIZED (
        SELECT doc_id, lang, source, text, fp, len(t) AS n_tok,
          round(len(list_filter(t, x -> x IN ('the','a','of','and','to','in')))::DOUBLE
            / len(t), 4) AS stop_ratio,
          round(1.0 - len(list_distinct(string_split(text, chr(10))))::DOUBLE
            / len(string_split(text, chr(10))), 4) AS dup_line_ratio,
          CASE WHEN len(t) >= 2
            THEN round(list_max(list_transform(list_distinct(g),
              x -> len(list_filter(g, y -> y = x)))) * 2.0 / len(t), 4)
            ELSE 0.0 END AS top_2gram_frac
        FROM g_gr),
      g_gated AS MATERIALIZED (
        SELECT * FROM g_sc
        WHERE n_tok >= 20 AND n_tok <= 2000 AND stop_ratio <= 0.5
          AND dup_line_ratio <= 0.3 AND top_2gram_frac <= 0.2),
      s1 AS MATERIALIZED (
        SELECT doc_id, text, lang, source FROM (
          SELECT *, row_number() OVER (PARTITION BY fp
            ORDER BY n_tok DESC, doc_id) AS rn
          FROM g_gated) WHERE rn = 1),
      -- stage 2: q59 sketch dedup (J >= 0.8 drops the higher id)
      ${minhashVer("d", "s1")},
      d_drop AS MATERIALIZED (SELECT DISTINCT id2 AS doc_id FROM d_ver WHERE jaccard >= 0.8),
      s2 AS MATERIALIZED (SELECT * FROM s1 WHERE doc_id NOT IN (SELECT doc_id FROM d_drop)),
      -- stage 3: q161/q162 substring excision (canonical token rewrite)
      x_tk AS MATERIALIZED (
        SELECT doc_id, lang, source,
          string_split_regex(lower(trim(text)), '\\s+') AS toks
        FROM s2),
      x_ps AS MATERIALIZED (
        SELECT doc_id, i AS pos,
          toks[i]||' '||toks[i+1]||' '||toks[i+2]||' '||toks[i+3]||' '||toks[i+4] AS span
        FROM x_tk, UNNEST(range(1, len(toks)-3)) AS u(i)),
      x_df AS MATERIALIZED (SELECT span, count(*) AS occ FROM x_ps GROUP BY span),
      x_psk AS MATERIALIZED (SELECT x_ps.* FROM x_ps JOIN x_df USING (span) WHERE occ <= 100),
      x_m AS MATERIALIZED (
        SELECT a.doc_id AS d1, b.doc_id AS d2, a.pos AS p1, b.pos AS p2
        FROM x_psk a JOIN x_psk b ON a.span = b.span AND a.doc_id < b.doc_id),
      x_isl AS MATERIALIZED (
        SELECT d1, d2, p1, p2,
          p1 - row_number() OVER (PARTITION BY d1, d2, (p1-p2) ORDER BY p1) AS grp
        FROM x_m),
      x_cuts AS MATERIALIZED (
        SELECT d2 AS doc_id, min(p2) AS lo, min(p2) + max(p1) - min(p1) + 4 AS hi
        FROM x_isl GROUP BY d1, d2, (p1-p2), grp
        HAVING max(p1) - min(p1) + 5 >= 20),
      x_cutpos AS MATERIALIZED (
        SELECT DISTINCT doc_id, u.p AS pos
        FROM x_cuts, UNNEST(range(lo, hi+1)) AS u(p)),
      x_pos AS MATERIALIZED (
        SELECT doc_id, lang, source, i AS pos, toks[i] AS tok
        FROM x_tk, UNNEST(range(1, len(toks)+1)) AS u(i)),
      s3 AS MATERIALIZED (
        SELECT doc_id, array_to_string(list(tok ORDER BY pos), ' ') AS text,
          lang, source
        FROM x_pos ANTI JOIN x_cutpos USING (doc_id, pos)
        GROUP BY doc_id, lang, source),
      -- stage 4: q109 decontamination (bucket >= 90 is the benchmark)
      c_b AS MATERIALIZED (
        SELECT doc_id, text, lang, source,
          ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 AS b
        FROM s3),
      c_sh AS MATERIALIZED (
        SELECT doc_id, b, unnest(list_distinct(list_transform(range(1, len(toks)-6),
          i -> toks[i]||' '||toks[i+1]||' '||toks[i+2]||' '||toks[i+3]||' '
            ||toks[i+4]||' '||toks[i+5]||' '||toks[i+6]||' '||toks[i+7]))) AS sgl
        FROM (SELECT doc_id, b,
            string_split_regex(lower(trim(text)), '\\s+') AS toks FROM c_b)
        WHERE len(toks) >= 8),
      c_bench AS MATERIALIZED (SELECT DISTINCT sgl FROM c_sh WHERE b >= 90),
      c_hit AS MATERIALIZED (
        SELECT DISTINCT doc_id FROM c_sh
        WHERE b < 90 AND sgl IN (SELECT sgl FROM c_bench)),
      s4 AS MATERIALIZED (
        SELECT doc_id, text, lang, source FROM c_b
        WHERE b < 90 AND doc_id NOT IN (SELECT doc_id FROM c_hit)),
      -- stage 5: q183 leakage-safe split (q64 closure over s4)
      ${minhashVer("k", "s4")},
      k_e AS MATERIALIZED (
        SELECT id1 AS s, id2 AS d FROM k_ver WHERE jaccard >= 0.8
        UNION ALL
        SELECT id2, id1 FROM k_ver WHERE jaccard >= 0.8),
      k_reach AS (
        SELECT DISTINCT s AS v, s AS r FROM k_e
        UNION
        SELECT k_e.s, k_reach.r FROM k_e JOIN k_reach ON k_e.d = k_reach.v),
      k_lab AS MATERIALIZED (SELECT v, min(r) AS cluster_id FROM k_reach GROUP BY v),
      k_all AS MATERIALIZED (
        SELECT s4.doc_id, text, lang, source,
          coalesce(l.cluster_id, s4.doc_id) AS cluster_id
        FROM s4 LEFT JOIN k_lab l ON s4.doc_id = l.v),
      s5 AS MATERIALIZED (
        SELECT doc_id, text, lang, source,
          CASE WHEN b5 < 80 THEN 'train' WHEN b5 < 90 THEN 'val'
            ELSE 'test' END AS split
        FROM (SELECT *,
          ('0x' || substr(md5(CAST(cluster_id AS VARCHAR)), 1, 8))::BIGINT % 100 AS b5
          FROM k_all)),
      -- stage 6: q184 temperature mixture over the train split
      m_tr AS MATERIALIZED (SELECT * FROM s5 WHERE split = 'train'),
      m_c AS MATERIALIZED (
        SELECT source, count(*) AS n_docs,
          CAST(floor(sqrt(count(*)::DOUBLE)) AS BIGINT) AS w
        FROM m_tr GROUP BY 1),
      m_tw AS MATERIALIZED (SELECT CAST(sum(w) AS BIGINT) AS sw FROM m_c),
      m_t AS MATERIALIZED (
        SELECT source, greatest(1, (60 * w) // sw) AS target
        FROM m_c CROSS JOIN m_tw),
      m_pr AS MATERIALIZED (
        SELECT source, doc_id,
          row_number() OVER (PARTITION BY source
            ORDER BY substr(md5(CAST(doc_id AS VARCHAR)), 1, 13), doc_id) AS rank
        FROM m_tr),
      m_ids AS MATERIALIZED (
        SELECT doc_id FROM m_pr JOIN m_t USING (source)
        WHERE m_pr.rank <= m_t.target),
      s6 AS MATERIALIZED (SELECT * FROM m_tr WHERE doc_id IN (SELECT doc_id FROM m_ids)),
      -- stage 7: q48's packing rule budgeted by REAL BPE token counts
      -- (the q196 tokenizer trained on the input corpus — the chain
      -- below is the q186/q196 training oracle verbatim; excision only
      -- deletes whole tokens, so every s6 word is in the trained vocab
      -- and the per-word segment-length lookup equals the encode count)
      ${graft.operators.TextAnalysis.bpeOracleChainInner(6)},
      bp_wt AS MATERIALIZED (
        SELECT word, CAST(len(string_split(trim(sym), '  ')) AS BIGINT) AS wtok
        FROM w6),
      bp_dw AS (
        SELECT doc_id,
          unnest(string_split_regex(lower(trim(text)), '\\s+')) AS word
        FROM s6),
      bp_dn AS MATERIALIZED (
        SELECT doc_id, CAST(sum(wtok) AS BIGINT) AS n_tok
        FROM bp_dw JOIN bp_wt USING (word) WHERE word <> '' GROUP BY doc_id),
      p_t AS MATERIALIZED (
        SELECT doc_id, source, coalesce(n_tok, 0) AS n_tok,
          ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 8 AS shard
        FROM s6 LEFT JOIN bp_dn USING (doc_id)),
      p_c AS MATERIALIZED (
        SELECT doc_id, source, shard, n_tok,
          sum(n_tok) OVER (PARTITION BY source, shard ORDER BY doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        FROM p_t),
      s7 AS MATERIALIZED (
        SELECT source, shard, CAST(floor((cum - n_tok) / 512) AS BIGINT) AS seq_id,
          count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS n_tokens
        FROM p_c GROUP BY 1, 2, 3)
      ${docRow(0, "input", "s0", docKey)}
      UNION ALL ${docRow(1, "gate", "s1", docKey)}
      UNION ALL ${docRow(2, "sketch_dedup", "s2", docKey)}
      UNION ALL ${docRow(3, "excise", "s3", docKey)}
      UNION ALL ${docRow(4, "decontaminate", "s4", docKey)}
      UNION ALL ${docRow(5, "split", "s5",
        "doc_id::VARCHAR || chr(1) || split || chr(1) || text")}
      UNION ALL ${docRow(6, "mixture", "s6", docKey)}
      UNION ALL SELECT 7 AS ord, 'pack' AS stage, count(*) AS n_rows,
        coalesce(CAST(sum(n_tokens) AS BIGINT), 0) AS n_tokens,
        coalesce(CAST(bit_xor(('0x' || substr(md5(source || chr(1)
          || shard::VARCHAR || chr(1) || seq_id::VARCHAR || chr(1)
          || n_docs::VARCHAR || chr(1) || n_tokens::VARCHAR), 1, 15))::BIGINT)
          AS BIGINT), 0) AS fp
      FROM s7
      ORDER BY ord"""
  }

  /** q193: the composed curation pipeline's per-stage manifest —
    * counts + token sums + content fingerprints for every stage,
    * hash-checked end-to-end by the chained oracle. */
  val q193CurationPipeline = GraftQuery(
    "q193_curation_pipeline",
    "LLM-pipeline COMPOSED: gate→dedup→excise→decontaminate→split→mixture→pack, staged + manifest-proven",
    (s, d) => runManifest(s, d, withClassifier = false, budget = 60),
    Some(manifestOracle))

  /** q194: the same chain WITH the distilled-classifier stage (q131)
    * between the heuristic gate and the sketch dedup — the full
    * production shape. The classifier is a seeded MLlib fit (not
    * SQL-expressible), so this variant has no DuckDB oracle; its gates
    * are PipelineSpec (9 stage rows, monotone doc counts, resume) plus
    * the classifier's own AUC/determinism gates in QualityFilterSpec,
    * and every deterministic stage is the oracle-checked q193 code. */
  val q194CurationPipelineClf = GraftQuery(
    "q194_curation_pipeline_clf",
    "LLM-pipeline COMPOSED + classifier stage (no SQL oracle: seeded LR; spec-gated)",
    (s, d) => runManifest(s, d, withClassifier = true, budget = 60),
    None)

  /** The streamed twin driven to drain over `nBatches` doc_id-mod
    * slices — deliberately NOT ascending id ranges: the state contract
    * (StreamingJobs.applyCurationBatch) is exact under ANY arrival
    * order, unlike the q69 incremental-dedup family's ascending-id
    * precondition — then the manifest derived from the drained state. */
  def streamedManifest(s: SparkSession, d: String, nBatches: Int,
      budget: Int): DataFrame = {
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("text"), col("lang"), col("source"))
    val state = StreamingJobs.drain(s, "graft_cur_stream", docs, "doc_id", nBatches) {
      (b, id, dir) => StreamingJobs.applyCurationBatch(s, b, id, dir)
    }
    manifestFromState(s, d, state, budget)
  }

  /** q198: the composed pipeline's STREAMED twin (the eighth
    * streamed/batch pairing) — per-batch incremental gate state on the
    * versioned batchId-idempotent contract, read-time manifest, carried
    * q193 oracle: the drained-state manifest must hash-match the same
    * chained DuckDB replay the batch form does. */
  val q198StreamedCuration = GraftQuery(
    "q198_streamed_curation",
    "LLM-pipeline COMPOSED + streaming: incremental curation state, drained manifest == q193",
    (s, d) => streamedManifest(s, d, nBatches = 3, budget = 60),
    Some(manifestOracle))

  def queries: Seq[GraftQuery] =
    Seq(q193CurationPipeline, q194CurationPipelineClf, q198StreamedCuration)
}
