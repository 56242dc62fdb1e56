package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.{GraftConf, GraftQuery, Tables}
import graft.functions.SketchFunctions._
import graft.functions.VectorKernels.cosineFast

/** Deduplication operator suite (SURVEY §2.3 D1-D5, north-star dedup
  * family): exact keyed dedup, MinHash+LSH, SimHash, n-gram Jaccard and
  * embedding-cosine survivor selection, all over the `documents` /
  * `embeddings` tables.
  *
  * The reference's dedup is exact-match keep-first on the cleaned text
  * (app/preprocess_data.py:59-71) plus the semantic near-dup pipeline
  * (app/main.py:201-265); the sketch operators (MinHash/SimHash) are the
  * standard scale path for the same question — candidate generation is a
  * bucket equi-join (shuffle on band key), never an all-pairs cross join,
  * so each stays linear-ish in corpus size on a cluster.
  *
  * The 3-shingle Jaccard path (q51/q59/q64/q69 and the curation stages)
  * makes one pass over the documents per call ([[sketchFrame]]: one
  * materialized row per document with its MinHash band keys and its
  * sorted shingle-key array). The band self-join and the exact verify
  * both read it; the verify is a sorted merge of two key arrays per
  * candidate pair. Connected components collect small pair sets once and
  * union-find them on the driver.
  *
  * The exact n-shingle Jaccard and overlap queries (q53, q58, q109/q133,
  * q170) read one key-set builder, [[shingleKeySets]]: per document the
  * sorted 60-bit md5 keys of its shingles, the same keys [[sketchFrame]]
  * holds. They explode the keys where they need key rows.
  *
  * Hashing is md5-based on both the Spark and DuckDB sides so every stage
  * of every sketch is oracle-replayable bit-for-bit.
  */
object Dedup {

  // ---------------------------------------------------------------------
  // q50: exact keyed dedup, keep-first (D1/D3)
  // ---------------------------------------------------------------------

  /** Keep the first row (lowest doc_id = file order) per (lang, source) —
    * the reference's `drop_duplicates(keep='first')` made order-stable via
    * an explicit window (SURVEY §2.3 D1: pandas keeps first-in-file-order;
    * row_number over an explicit key is the deterministic Spark version).
    * Also emits the group size so D2/D3-style dup accounting rides along. */
  val q50ExactDedup = GraftQuery(
    "q50_exact_dedup",
    "D1,D2,D3,T3",
    (s, d) => {
      val w = Window.partitionBy(col("lang"), col("source"))
      Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), col("source"),
          row_number().over(w.orderBy(col("doc_id"))).as("rn"),
          count(lit(1)).over(w).as("group_size"))
        .filter(col("rn") === 1)
        .select(col("doc_id"), col("lang"), col("source"), col("group_size"))
        .orderBy(col("doc_id"))
    },
    Some("""SELECT doc_id, lang, source, group_size FROM (
        SELECT doc_id, lang, source,
          row_number() OVER (PARTITION BY lang, source ORDER BY doc_id) AS rn,
          count(*) OVER (PARTITION BY lang, source) AS group_size
        FROM documents)
      WHERE rn = 1 ORDER BY doc_id"""))

  // ---------------------------------------------------------------------
  // q51: MinHash + LSH candidate pairs (D5 scale path)
  // ---------------------------------------------------------------------

  /** Per-doc MinHash signature over distinct 3-word shingles: for each
    * seeded hash function, the minimum md5("<seed>:<shingle>") hex
    * string. Signature length and band shape come from GraftConf
    * (spark.graft.minhash.{funcs,bandRows}; defaults 8 and 2 -> 4 bands,
    * the shape the q51/q59 oracles replay). Docs sharing any band bucket
    * are candidate near-dups (the classic shingle->minhash->band->
    * bucket-join pipeline). The join is an equi-join on (band, key):
    * shuffle-partition by bucket, no cross join anywhere, which is what
    * makes this the 100 TB path vs q31's exact quadratic scan. */
  def minhashCandidates(s: SparkSession, d: String): DataFrame =
    minhashCandidatePairs(s, d).orderBy(col("id1"), col("id2"))

  /** The per-document sketch relation (doc_id, n_sh, bands, ks,
    * <carried cols>) under the conf'd MinHash shape, built in ONE pass
    * and materialized once per call: tokenize, shingle the distinct
    * 3-word shingles, then from the same shingle array the MinHash band
    * keys (`bands`, one "<hex>|<hex>" string per band) and the sorted
    * 60-bit md5 shingle keys (`ks`) with their count `n_sh`. Both
    * consumers read it: the band self-join (candidate generation) and
    * the exact-Jaccard verify (a sorted merge of two `ks` arrays). An
    * unmaterialized subtree would re-run the tokenize→shingle→hash chain,
    * the dominant cost of every sketch-dedup query, once per join side;
    * the relation is N rows of bounded arrays, and a deployment keeps it
    * as its banded index ([[graft.Mat]]: reliable checkpoints at cluster
    * scale). Documents with fewer than 3 tokens (no shingle) are
    * dropped after the materialization: a filter before it would be
    * pushed under the projection and split every document twice. */
  private[graft] def sketchFrame(docs: DataFrame, carry: Seq[String] = Nil): DataFrame = {
    val s = docs.sparkSession
    val fns = GraftConf.minhashFuncs(s)
    val rows = GraftConf.minhashBandRows(s)
    require(fns > 0 && rows > 0 && fns % rows == 0,
      s"minhash.bandRows ($rows) must divide minhash.funcs ($fns)")
    val bands = (0 until fns / rows).map { b =>
      concat_ws("|", (0 until rows).map(r =>
        element_at(col("sig"), b * rows + r + 1)): _*)
    }
    val c = carry.map(col)
    // each step's output is read more than once by the next, so Catalyst
    // keeps the projections apart: the shingle array and the signature
    // are each computed once per document
    graft.Mat(docs
      .select((Seq(col("doc_id"), shingleArray(toks(col("text")), 3).as("sh")) ++ c): _*)
      .select((Seq(col("doc_id"), size(col("sh")).as("n_sh"),
        minhashSignature(col("sh"), fns).as("sig"), shingleKeys(col("sh")).as("ks")) ++ c): _*)
      .select((Seq(col("doc_id"), col("n_sh"), array(bands: _*).as("bands"), col("ks")) ++ c): _*))
      .filter(col("n_sh") > 0)
  }

  /** The per-document n-shingle key sets (doc_id, n_sh, ks, <carried
    * cols>): `ks` is the sorted array of 60-bit md5 keys of the
    * document's distinct n-word shingles, `n_sh` its length. Colliding
    * keys stay duplicated, so exploding `ks` and joining on the key
    * counts Σ m_a·m_b, as the oracles' unnest-and-join does. Documents
    * with fewer than n tokens have no n-shingle and drop. */
  private[graft] def shingleKeySets(docs: DataFrame, n: Int,
      carry: Seq[String] = Nil): DataFrame = {
    val c = carry.map(col)
    docs.select((Seq(col("doc_id"), toks(col("text")).as("t")) ++ c): _*)
      .filter(size(col("t")) >= n)
      .select((Seq(col("doc_id"), shingleKeys(shingleArray(col("t"), n)).as("ks")) ++ c): _*)
      .select((Seq(col("doc_id"), size(col("ks")).as("n_sh"), col("ks")) ++ c): _*)
  }

  /** One (doc_id, b, key, <carried cols>) row per band of a sketch
    * relation: the input of the band-bucket equi-join. */
  private def bandRows(sk: DataFrame, carry: Seq[String] = Nil): DataFrame =
    sk.select((Seq(col("doc_id"), posexplode(col("bands")).as(Seq("b", "key"))) ++
      carry.map(col)): _*)

  /** Unordered candidate relation (id1, id2, n_bands) — the composition
    * entry point (q59): no final sort to drag into a downstream plan. */
  def minhashCandidatePairs(s: SparkSession, d: String): DataFrame =
    candidatePairs(sketchFrame(Tables.documents(s, d)))

  private def candidatePairs(sk: DataFrame): DataFrame = {
    val banded = bandRows(sk)
    val a = banded.select(col("doc_id").as("id1"), col("b"), col("key"))
    val bdf = banded.select(col("doc_id").as("id2"), col("b"), col("key"))
    a.join(bdf, Seq("b", "key")).filter(col("id1") < col("id2"))
      .groupBy(col("id1"), col("id2")).agg(count(lit(1)).as("n_bands"))
  }

  val q51MinhashLsh = GraftQuery(
    "q51_minhash_lsh",
    "D5,J1c,F10; north-star MinHash+LSH dedup",
    (s, d) => minhashCandidates(s, d),
    Some("""WITH tk AS (
        SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks
        FROM documents),
      sh AS (
        SELECT doc_id, list_distinct(list_transform(range(1, len(toks)-1),
          i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
        FROM tk WHERE len(toks) >= 3),
      sig AS (
        SELECT doc_id,
          [list_min(list_transform(sh, s -> md5('0:' || s))),
           list_min(list_transform(sh, s -> md5('1:' || s))),
           list_min(list_transform(sh, s -> md5('2:' || s))),
           list_min(list_transform(sh, s -> md5('3:' || s))),
           list_min(list_transform(sh, s -> md5('4:' || s))),
           list_min(list_transform(sh, s -> md5('5:' || s))),
           list_min(list_transform(sh, s -> md5('6:' || s))),
           list_min(list_transform(sh, s -> md5('7:' || s)))] AS sig
        FROM sh),
      bands AS (
        SELECT doc_id, b, sig[2*b+1] || '|' || sig[2*b+2] AS key
        FROM sig CROSS JOIN (SELECT unnest(range(0, 4)) AS b)),
      pairs AS (
        SELECT a.doc_id AS id1, b.doc_id AS id2, CAST(count(*) AS BIGINT) AS n_bands
        FROM bands a JOIN bands b ON a.b = b.b AND a.key = b.key AND a.doc_id < b.doc_id
        GROUP BY 1, 2)
      SELECT id1, id2, n_bands FROM pairs ORDER BY id1, id2"""))

  // ---------------------------------------------------------------------
  // q52: SimHash + banded Hamming near-dup pairs (D5 scale path #2)
  // ---------------------------------------------------------------------

  /** 64-bit SimHash per doc from distinct tokens (two 32-bit halves so all
    * arithmetic stays in exact signed-long/double range on both the Spark
    * and DuckDB sides): bit j of the sketch is the majority vote of bit j
    * across the token hashes. Computed entirely with higher-order
    * kernel ([[graft.functions.Simhash64]]) — one pass per row, no
    * explode, no shuffle until the candidate join. Band count comes from
    * GraftConf (spark.graft.simhash.bands, default 4 x 16-bit): by
    * pigeonhole, b bands give complete recall for Hamming <= b-1, so the
    * default exactly covers the radius-3 filter below, and the
    * 65536-value key space keeps bucket skew (and the candidate pair
    * count) ~7x lower than byte bands on a clustered corpus; candidates
    * are then filtered by exact Hamming distance. */
  def simhashPairs(s: SparkSession, d: String): DataFrame =
    simhashCandidates(s, d)
      .filter(col("hamming") <= 3)
      .orderBy(col("id1"), col("id2"))

  /** Banded candidate relation (id1, id2, hamming), pre-radius-filter —
    * the quantity the bands knob tunes (BASELINE.md round-5 sketch sweep). */
  def simhashCandidates(s: SparkSession, d: String): DataFrame = {
    val nb = GraftConf.simhashBands(s)
    require(nb >= 2 && nb % 2 == 0 && 32 % (nb / 2) == 0,
      s"simhash.bands ($nb) must be even with a width dividing 32 (2, 4, 8, 16)")
    val perHalf = nb / 2
    val width = 32 / perHalf
    val mask = (1L << width) - 1
    val sketches = Tables.documents(s, d)
      .select(col("doc_id"), array_distinct(toks(col("text"))).as("t"))
      .select(col("doc_id"), simhash64(col("t")).as("sk"))
      .select(col("doc_id"),
        element_at(col("sk"), 1).as("sh1"), element_at(col("sk"), 2).as("sh2"))
    val bandKeys = (0 until nb).map { b =>
      val half = if (b < perHalf) col("sh1") else col("sh2")
      shiftright(half, width * (b % perHalf)).bitwiseAND(lit(mask))
    }
    val banded = sketches.select(
      col("doc_id"), col("sh1"), col("sh2"),
      posexplode(array(bandKeys: _*)).as(Seq("b", "key")))
    val a = banded.select(col("doc_id").as("id1"), col("sh1").as("a1"), col("sh2").as("a2"), col("b"), col("key"))
    val bdf = banded.select(col("doc_id").as("id2"), col("sh1").as("b1"), col("sh2").as("b2"), col("b"), col("key"))
    a.join(bdf, Seq("b", "key")).filter(col("id1") < col("id2"))
      .select(col("id1"), col("id2"),
        (expr("bit_count(a1 ^ b1)") + expr("bit_count(a2 ^ b2)")).cast("long").as("hamming"))
      .distinct()
  }

  val q52SimhashPairs = GraftQuery(
    "q52_simhash_pairs",
    "D5; north-star SimHash dedup",
    (s, d) => simhashPairs(s, d),
    Some("""WITH tok AS (
        SELECT doc_id, unnest(list_distinct(string_split_regex(lower(trim(text)), '\s+'))) AS t
        FROM documents),
      h AS (SELECT doc_id,
          ('0x' || substr(md5(t), 1, 8))::BIGINT AS h1,
          ('0x' || substr(md5(t), 9, 8))::BIGINT AS h2
        FROM tok),
      bits AS (
        SELECT doc_id, j,
          sum(CASE WHEN (h1 >> j) & 1 = 1 THEN 1 ELSE -1 END) AS s1,
          sum(CASE WHEN (h2 >> j) & 1 = 1 THEN 1 ELSE -1 END) AS s2
        FROM h CROSS JOIN (SELECT unnest(range(0, 32)) AS j) GROUP BY 1, 2),
      sk AS (
        SELECT doc_id,
          CAST(sum(CASE WHEN s1 > 0 THEN (1::BIGINT << j) ELSE 0 END) AS BIGINT) AS sh1,
          CAST(sum(CASE WHEN s2 > 0 THEN (1::BIGINT << j) ELSE 0 END) AS BIGINT) AS sh2
        FROM bits GROUP BY 1),
      bands AS (
        SELECT doc_id, sh1, sh2, b,
          CASE WHEN b < 2 THEN (sh1 >> (16*b)) & 65535 ELSE (sh2 >> (16*(b-2))) & 65535 END AS key
        FROM sk CROSS JOIN (SELECT unnest(range(0, 4)) AS b)),
      cand AS (
        SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2,
          CAST(bit_count(xor(a.sh1, b.sh1)) + bit_count(xor(a.sh2, b.sh2)) AS BIGINT) AS hamming
        FROM bands a JOIN bands b ON a.b = b.b AND a.key = b.key AND a.doc_id < b.doc_id)
      SELECT id1, id2, hamming FROM cand WHERE hamming <= 3 ORDER BY id1, id2"""))

  // ---------------------------------------------------------------------
  // q53: exact n-gram Jaccard similarity (D5 verification stage)
  // ---------------------------------------------------------------------

  /** Exact Jaccard over distinct 5-word shingle sets, computed by the
    * distributed explode->equi-join->count shape (shuffle on shingle, then
    * on pair) — the verification stage that an LSH candidate pass feeds at
    * scale. Emits pairs with J >= 0.05. */
  def ngramJaccard(s: SparkSession, d: String, n: Int, threshold: Double): DataFrame = {
    // The join key is the 60-bit md5 key of the shingle, not the shingle
    // string: 8-byte shuffle keys instead of ~30-char strings. Both sides
    // (Spark + oracle) hash identically, so results agree even when two
    // shingles collide. The key sets are materialized once: both sides
    // of the self-join and both set-size lookups read them, and the
    // fan-out ships only (doc_id, k).
    val sk = graft.Mat(shingleKeySets(Tables.documents(s, d), n))
    val ex = sk.select(col("doc_id"), explode(col("ks")).as("k"))
    val a = ex.select(col("doc_id").as("id1"), col("k"))
    val b = ex.select(col("doc_id").as("id2"), col("k"))
    a.join(b, Seq("k")).filter(col("id1") < col("id2"))
      .groupBy(col("id1"), col("id2"))
      .agg(count(lit(1)).as("inter"))
      .join(sk.select(col("doc_id").as("id1"), col("n_sh").as("na")), Seq("id1"))
      .join(sk.select(col("doc_id").as("id2"), col("n_sh").as("nb")), Seq("id2"))
      .select(col("id1"), col("id2"), col("inter"),
        round(col("inter").cast("double") / (col("na") + col("nb") - col("inter")), 4)
          .as("jaccard"))
      .filter(col("jaccard") >= threshold)
      .orderBy(col("jaccard").desc, col("id1"), col("id2"))
  }

  val q53NgramJaccard = GraftQuery(
    "q53_ngram_jaccard",
    "D5,A9; north-star n-gram Jaccard dedup",
    (s, d) => ngramJaccard(s, d, n = 5, threshold = 0.05),
    Some("""WITH tk AS (
        SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks
        FROM documents),
      sh AS (
        SELECT doc_id, list_distinct(list_transform(range(1, len(toks)-3),
          i -> toks[i]||' '||toks[i+1]||' '||toks[i+2]||' '||toks[i+3]||' '||toks[i+4])) AS sh
        FROM tk WHERE len(toks) >= 5),
      ex AS (SELECT doc_id, len(sh) AS n_sh,
          ('0x' || substr(md5(unnest(sh)), 1, 15))::BIGINT AS k FROM sh),
      p AS (
        SELECT a.doc_id AS id1, b.doc_id AS id2,
          CAST(count(*) AS BIGINT) AS inter,
          any_value(a.n_sh) AS na, any_value(b.n_sh) AS nb
        FROM ex a JOIN ex b ON a.k = b.k AND a.doc_id < b.doc_id
        GROUP BY 1, 2)
      SELECT id1, id2, inter,
        round(inter::DOUBLE / (na + nb - inter), 4) AS jaccard
      FROM p WHERE round(inter::DOUBLE / (na + nb - inter), 4) >= 0.05
      ORDER BY jaccard DESC, id1, id2"""))

  // ---------------------------------------------------------------------
  // q54: embedding-cosine near-dup survivor set (D5 + M5)
  // ---------------------------------------------------------------------

  /** Greedy keep-lowest-id dedup over the embedding near-dup graph: any
    * vector that is a near-dup (cos >= 0.35) of a lower-id vector is
    * dropped — left-anti join against the dominated side of the q31 pair
    * list (the reference's "rebuild the index without the dupes" M5 advice
    * expressed as a plan). */
  def neardupSurvivors(s: SparkSession, d: String, threshold: Double): DataFrame = {
    val pairs = Similarity.nearDupPairs(s, d, threshold)
    val dropped = pairs.select(col("id2").as("vec_id")).distinct()
    Tables.embeddings(s, d)
      .select(col("vec_id"), col("label"))
      .join(dropped, Seq("vec_id"), "left_anti")
      .orderBy(col("vec_id"))
  }

  val q54NeardupSurvivors = GraftQuery(
    "q54_neardup_survivors",
    "D5,M5,J-anti; embedding-cosine dedup",
    (s, d) => neardupSurvivors(s, d, threshold = 0.35),
    Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS embedding FROM embeddings)
      SELECT vec_id, label FROM embeddings
      WHERE vec_id NOT IN (
        SELECT b.vec_id FROM e a JOIN e b ON a.vec_id < b.vec_id
        WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.35)
      ORDER BY vec_id"""))

  // ---------------------------------------------------------------------
  // q55: LSH-candidate survivor set (q54 semantics, 100 TB path)
  // ---------------------------------------------------------------------

  /** Same survivor semantics as q54 but the dominated side comes from the
    * LSH bucket-join candidates + exact cosine verify (Ann.lshNearDup)
    * instead of the exact quadratic pair list — candidate generation
    * stays a bucket equi-join, so the whole dedup is shuffle-bounded, not
    * O(N^2). q54 stays as the oracle-checked exact baseline; OperatorSpec
    * gates this one's survivor agreement against it. */
  def lshSurvivors(s: SparkSession, d: String, threshold: Double): DataFrame = {
    val dropped = Ann.lshNearDup(s, d, threshold)
      .select(col("id2").as("vec_id")).distinct()
    Tables.embeddings(s, d)
      .select(col("vec_id"), col("label"))
      .join(dropped, Seq("vec_id"), "left_anti")
      .orderBy(col("vec_id"))
  }

  val q55LshSurvivors = GraftQuery(
    "q55_lsh_survivors",
    "D5,M5,J1b; LSH-candidate dedup survivors (no SQL oracle: random projections)",
    (s, d) => lshSurvivors(s, d, threshold = 0.35),
    None)

  // ---------------------------------------------------------------------
  // q59: composed sketch-dedup — MinHash band candidates -> exact Jaccard
  // verify on the candidate pairs only -> survivors. This is the
  // scale-DEFAULT Jaccard dedup; q53's corpus-wide join stays registered
  // as the labeled small-N oracle baseline.
  // ---------------------------------------------------------------------

  /** Exact 3-shingle Jaccard computed ONLY for MinHash candidate pairs
    * (the verify-after-candidates shape of the reference's semantic dedup,
    * app/main.py:226-263, applied to the sketch tier). The verify is
    * DRIVEN FROM the candidate relation: each candidate pair picks up both
    * documents' sorted shingle-key arrays from the sketch relation (two
    * equi-joins on id1 and id2) and one sorted merge counts the
    * intersection — so verification work is O(candidates x shingles/doc)
    * no matter how big the corpus is, with no exploded shingle rows. The
    * merge counts each key with multiplicity (m_a(k)·m_b(k)), what a join
    * on exploded keys counted; pairs sharing no key drop, as they did
    * from that inner join. */
  private[graft] def verifyPairs(sk: DataFrame, cand: DataFrame, threshold: Double): DataFrame =
    scoredPairs(sk, cand).filter(col("jaccard") >= threshold)
      .select(col("id1"), col("id2"), col("jaccard"))

  /** (id1, id2, inter, jaccard) of the candidate pairs that share a key. */
  private def scoredPairs(sk: DataFrame, cand: DataFrame): DataFrame =
    cand
      .join(sk.select(col("doc_id").as("id1"), col("n_sh").as("na"), col("ks").as("ka")), Seq("id1"))
      .join(sk.select(col("doc_id").as("id2"), col("n_sh").as("nb"), col("ks").as("kb")), Seq("id2"))
      .select(col("id1"), col("id2"), col("na"), col("nb"),
        sortedIntersect(col("ka"), col("kb")).as("inter"))
      .filter(col("inter") > 0)
      .select(col("id1"), col("id2"), col("inter"),
        round(col("inter").cast("double") / (col("na") + col("nb") - col("inter")), 4)
          .as("jaccard"))

  // -------------------------------------------------------------------
  // No cross-query caching of the sketch-dedup substrate (optimization
  // r17, reverting the r16 fit-once caches): the verified-pair relation
  // IS the declared output of q59/q64's front half, and memoising it
  // across queries and bench repeats made the reported medians exclude
  // the work (VERDICT r16 "What's wrong" #2). Each consumer now runs
  // the tokenize→shingle→band→verify chain inside its own timed
  // repeats; connectedComponents materializes the pair relation exactly
  // once per query evaluation before its rounds.
  // -------------------------------------------------------------------

  def sketchVerifiedPairs(s: SparkSession, d: String, threshold: Double): DataFrame =
    verifiedJaccard(Tables.documents(s, d), threshold)

  /** (id1, id2, jaccard) of a document frame: one sketch relation feeds
    * the band candidates and their verify. */
  private def verifiedJaccard(docs: DataFrame, threshold: Double): DataFrame = {
    val sk = sketchFrame(docs)
    verifyPairs(sk, candidatePairs(sk).select(col("id1"), col("id2")), threshold)
  }

  /** Survivor set under the composed pipeline: greedy keep-lowest-id over
    * the VERIFIED near-dup pairs (candidates alone over-drop: the band
    * join admits J~0.02 false positives; the exact-Jaccard gate removes
    * them before any document is discarded). */
  def sketchDedupSurvivors(s: SparkSession, d: String, threshold: Double): DataFrame = {
    val dropped = sketchVerifiedPairs(s, d, threshold)
      .select(col("id2").as("doc_id")).distinct()
    Tables.documents(s, d)
      .select(col("doc_id"), col("source"))
      .join(dropped, Seq("doc_id"), "left_anti")
      .orderBy(col("doc_id"))
  }

  val q59SketchDedup = GraftQuery(
    "q59_sketch_dedup",
    "D5,A9,J-anti; scale-default composed Jaccard dedup (candidates -> verify -> survivors)",
    (s, d) => sketchDedupSurvivors(s, d, threshold = 0.8),
    Some("""WITH tk AS (
        SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks
        FROM documents),
      sh AS (
        SELECT doc_id, list_distinct(list_transform(range(1, len(toks)-1),
          i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
        FROM tk WHERE len(toks) >= 3),
      sig AS (
        SELECT doc_id,
          [list_min(list_transform(sh, s -> md5('0:' || s))),
           list_min(list_transform(sh, s -> md5('1:' || s))),
           list_min(list_transform(sh, s -> md5('2:' || s))),
           list_min(list_transform(sh, s -> md5('3:' || s))),
           list_min(list_transform(sh, s -> md5('4:' || s))),
           list_min(list_transform(sh, s -> md5('5:' || s))),
           list_min(list_transform(sh, s -> md5('6:' || s))),
           list_min(list_transform(sh, s -> md5('7:' || s)))] AS sig
        FROM sh),
      bands AS (
        SELECT doc_id, b, sig[2*b+1] || '|' || sig[2*b+2] AS key
        FROM sig CROSS JOIN (SELECT unnest(range(0, 4)) AS b)),
      cand AS (
        SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
        FROM bands a JOIN bands b ON a.b = b.b AND a.key = b.key AND a.doc_id < b.doc_id),
      ver AS (
        SELECT c.id1, c.id2,
          round(len(list_intersect(s1.sh, s2.sh))::DOUBLE /
            (len(s1.sh) + len(s2.sh) - len(list_intersect(s1.sh, s2.sh))), 4) AS jaccard
        FROM cand c JOIN sh s1 ON c.id1 = s1.doc_id JOIN sh s2 ON c.id2 = s2.doc_id),
      dropped AS (SELECT DISTINCT id2 FROM ver WHERE jaccard >= 0.8)
      SELECT doc_id, source FROM documents
      WHERE doc_id NOT IN (SELECT id2 FROM dropped)
      ORDER BY doc_id"""))

  // ---------------------------------------------------------------------
  // q64: transitive duplicate clusters — connected components over the
  // verified near-dup graph (pairwise survivors miss chains: a~b, b~c
  // puts all three in one cluster even when a and c never pair directly)
  // ---------------------------------------------------------------------

  /** One large-star round: every vertex u points its STRICTLY-GREATER
    * neighbors at the minimum of its closed neighborhood
    * min(Γ(u) ∪ {u}) — the step that shortcuts long paths, because a
    * high vertex adjacent to a low one re-parents its whole greater
    * neighborhood in one shuffle. */
  private def largeStar(edges: DataFrame): DataFrame = {
    val nbrs = edges.select(col("src"), col("dst"))
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
    val mins = nbrs.groupBy(col("src")).agg(min(col("dst")).as("mn"))
      .select(col("src"), least(col("mn"), col("src")).as("m"))
    nbrs.filter(col("dst") > col("src"))
      .join(mins, Seq("src"))
      .select(col("dst").as("src"), col("m").as("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct()
  }

  /** One small-star round: orient every edge high→low, then each vertex
    * u re-points itself and all its smaller neighbors at
    * min(Γ⁻(u) ∪ {u}) — the step that flattens the low end into stars. */
  private def smallStar(edges: DataFrame): DataFrame = {
    val oriented = edges.select(
        greatest(col("src"), col("dst")).as("src"),
        least(col("src"), col("dst")).as("dst"))
      .filter(col("src") =!= col("dst"))
    val mins = oriented.groupBy(col("src")).agg(min(col("dst")).as("m"))
    oriented.join(mins, Seq("src"))
      .select(col("dst").as("src"), col("m").as("dst"))
      .union(mins.select(col("src"), col("m").as("dst")))
      .filter(col("src") =!= col("dst"))
      .distinct()
  }

  /** (count, bit_xor of edge hashes) — an order-insensitive edge-set
    * fingerprint; two consecutive equal fingerprints under a
    * monotonically label-decreasing process mean the set is stable. */
  private def edgeFingerprint(edges: DataFrame): (Long, Long) = {
    val r = edges.agg(count(lit(1)).as("n"),
      expr("bit_xor(xxhash64(src, dst))").as("x")).head()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  /** Connected components of an undirected (id1, id2) edge relation by
    * ALTERNATING LARGE-STAR / SMALL-STAR rounds (the public Kiveris et
    * al. SoCC'14 MapReduce pattern): converges in O(log n) rounds on
    * adversarial chain graphs where plain min-label propagation needs
    * O(diameter), and the large-star step splits hot components instead
    * of funnelling every label through one vertex — the skew resistance
    * that matters when a 100 TB corpus has one giant near-dup cluster.
    * Each round is two shuffle pairs (groupBy min + re-point join);
    * convergence = both steps leave the edge set unchanged (checked via
    * an order-insensitive fingerprint, sound here because labels only
    * ever decrease). [[graft.Mat]] truncates lineage per round (a
    * reliable checkpoint under `spark.graft.checkpoint.reliable`). At or
    * below `spark.graft.cc.localEdgeCutoff` input pairs (counted as the
    * input is materialized) the operator instead collects that
    * materialization and union-finds on the driver — the same "tiny
    * side doesn't deserve distribution" call as a broadcast join, saving
    * the edge dedup, the fingerprint jobs and 2·log n rounds of scheduler
    * latency; both paths produce identical labels (property-asserted).
    * Returns (v, label) for every vertex that appears in an edge;
    * label = min vertex id of the component (OperatorSpec
    * property-tests the O(log n) round bound on a 1,000-node chain
    * with the local path disabled; the q64 oracle proves output
    * equality with a recursive-CTE transitive closure). */
  def connectedComponents(pairs: DataFrame): DataFrame =
    connectedComponentsWithRounds(pairs)._1

  /** Driver-side union-find over a collected pair list (union-by-min:
    * the smaller root always wins, so find() returns the component
    * minimum directly). The small-graph twin of a broadcast join: below
    * the conf cutoff the pair set is broadcast-sized by definition, and
    * one driver pass beats 2·log n distributed rounds of pure scheduler
    * latency. Duplicate and self pairs need no pre-pass. Returns
    * (v, componentMin) for every vertex of every pair. */
  private def localUnionFind(edges: Array[(Long, Long)]): Array[(Long, Long)] = {
    val parent = scala.collection.mutable.LongMap.empty[Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x // path compression
      while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    edges.foreach { case (a, b) =>
      val ra = find(a); val rb = find(b)
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    edges.iterator.flatMap { case (a, b) => Iterator(a, b) }
      .toArray.distinct.map(v => (v, find(v)))
  }

  /** connectedComponents plus the number of alternation rounds taken
    * (exposed for the convergence property test; 0 = local fast path). */
  def connectedComponentsWithRounds(pairs: DataFrame): (DataFrame, Int) =
    components(pairs) match {
      case Left(labels) =>
        val s = pairs.sparkSession
        import s.implicits._
        (labels.toSeq.toDF("v", "label"), 0)
      case Right(distributed) => distributed
    }

  /** The (v, label) components of `pairs`: Left with the labels already
    * on the driver when the local path ran, Right with the distributed
    * relation and its round count otherwise. */
  private def components(pairs: DataFrame): Either[Array[(Long, Long)], (DataFrame, Int)] = {
    val s = pairs.sparkSession
    // materialize the input ONCE, counting its rows as they pass: pairs
    // is typically an expensive plan (the whole sketch-dedup candidate
    // pipeline for q64) and both the vertex set and the edge set derive
    // from it
    val (base, n) = graft.Mat.counted(pairs.select(col("id1"), col("id2")))
    // small-graph fast path (spark.graft.cc.localEdgeCutoff): collect the
    // materialized pairs and union-find on the driver when they fit it
    // comfortably, run the distributed alternation when they don't
    if (n <= graft.GraftConf.ccLocalEdgeCutoff(s))
      Left(localUnionFind(base.collect().map(r => (r.getLong(0), r.getLong(1)))))
    else Right(distributedComponents(base))
  }

  /** Large-star/small-star rounds to the fixed point over materialized
    * (id1, id2) pairs: (v, label) and the number of rounds. */
  private def distributedComponents(base: DataFrame): (DataFrame, Int) = {
    val verts = base.select(col("id1").as("v"))
      .union(base.select(col("id2").as("v"))).distinct()
    var edges = graft.Mat(base.select(col("id1").as("src"), col("id2").as("dst"))
      .filter(col("src") =!= col("dst")).distinct())
    var fp = edgeFingerprint(edges)
    var rounds = 0
    var converged = fp._1 == 0L
    while (!converged) {
      // one materialization + one fingerprint job per round: the two star
      // steps compose into a single checkpointed plan (the intermediate
      // large-star set never needs to exist on its own), and an unchanged
      // edge set across the FULL round is the candidate fixed point —
      // Kiveris et al.'s potential argument rules out cycles, and the
      // half-step is re-validated once below rather than every round
      val afterSmall = graft.Mat(smallStar(largeStar(edges)))
      rounds += 1
      require(rounds <= 64,
        "connectedComponents failed to converge in 64 rounds") // O(log n) alg; 64 ≈ 2^64 vertices
      val fpS = edgeFingerprint(afterSmall)
      converged = fpS == fp
      fp = fpS
      edges = afterSmall
    }
    // validate the distributed fixed point: large-star must also be a
    // no-op (paid once at convergence, not per round; rounds == 0 means
    // an edge set that is empty or all self-pairs — already star-form)
    require(rounds == 0 || edgeFingerprint(largeStar(edges)) == fp,
      "connectedComponents: small-star fixed point is not a large-star fixed point")
    // at the fixed point every edge is (leaf, componentMin); roots only
    // appear on the dst side, and isolated vertices (self-pairs in the
    // input) appear in no edge at all — label both as themselves.
    val labels = verts
      .join(edges.select(col("src").as("v"), col("dst").as("label")), Seq("v"), "left")
      .select(col("v"), coalesce(col("label"), col("v")).as("label"))
    (labels, rounds)
  }

  /** Every document with its transitive dup-cluster id (the minimum
    * doc_id reachable through verified near-dup pairs; docs outside the
    * graph are their own singleton cluster) and the cluster size. Edges
    * come from the composed q59 pipeline (MinHash candidates -> exact
    * Jaccard >= threshold). */
  def dupClusters(s: SparkSession, d: String, threshold: Double): DataFrame = {
    val docs = Tables.documents(s, d)
    labelClusters(docs, components(verifiedPairsFrame(docs, threshold)).map(_._1))
  }

  /** Every document of `docs` labeled from its components — labels on
    * the driver (Left) or a (v, label) relation (Right), each holding
    * every member once: cluster sizes are counted over the components
    * alone (on the driver when they are there), and documents outside
    * them are their own size-1 singleton cluster; ordered by doc_id. */
  private def labelClusters(docs: DataFrame,
      comp: Either[Array[(Long, Long)], DataFrame]): DataFrame = {
    val sized = comp match {
      case Left(labels) =>
        val n = labels.groupMapReduce(_._2)(_ => 1L)(_ + _)
        val s = docs.sparkSession
        import s.implicits._
        labels.toSeq.map { case (v, l) => (v, l, n(l)) }.toDF("v", "label", "n")
      case Right(c) =>
        c.join(c.groupBy(col("label")).agg(count(lit(1)).as("n")), Seq("label"))
    }
    docs.select(col("doc_id"))
      .join(sized.withColumnRenamed("v", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("label"), col("doc_id")).as("cluster_id"),
        coalesce(col("n"), lit(1L)).as("cluster_size"))
      .orderBy(col("doc_id"))
  }

  val q64DupClusters = GraftQuery(
    "q64_dup_clusters",
    "D5 transitive closure; connected components (driver union-find, or large-star/small-star rounds above the cutoff)",
    (s, d) => dupClusters(s, d, threshold = 0.8),
    Some("""WITH RECURSIVE tk AS (
        SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks
        FROM documents),
      sh AS (
        SELECT doc_id, list_distinct(list_transform(range(1, len(toks)-1),
          i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
        FROM tk WHERE len(toks) >= 3),
      sig AS (
        SELECT doc_id,
          [list_min(list_transform(sh, s -> md5('0:' || s))),
           list_min(list_transform(sh, s -> md5('1:' || s))),
           list_min(list_transform(sh, s -> md5('2:' || s))),
           list_min(list_transform(sh, s -> md5('3:' || s))),
           list_min(list_transform(sh, s -> md5('4:' || s))),
           list_min(list_transform(sh, s -> md5('5:' || s))),
           list_min(list_transform(sh, s -> md5('6:' || s))),
           list_min(list_transform(sh, s -> md5('7:' || s)))] AS sig
        FROM sh),
      bands AS (
        SELECT doc_id, b, sig[2*b+1] || '|' || sig[2*b+2] AS key
        FROM sig CROSS JOIN (SELECT unnest(range(0, 4)) AS b)),
      cand AS (
        SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
        FROM bands a JOIN bands b ON a.b = b.b AND a.key = b.key AND a.doc_id < b.doc_id),
      ver AS (
        SELECT c.id1, c.id2,
          round(len(list_intersect(s1.sh, s2.sh))::DOUBLE /
            (len(s1.sh) + len(s2.sh) - len(list_intersect(s1.sh, s2.sh))), 4) AS jaccard
        FROM cand c JOIN sh s1 ON c.id1 = s1.doc_id JOIN sh s2 ON c.id2 = s2.doc_id),
      e AS (
        SELECT id1 AS s, id2 AS d FROM ver WHERE jaccard >= 0.8
        UNION ALL
        SELECT id2, id1 FROM ver WHERE jaccard >= 0.8),
      reach AS (
        SELECT DISTINCT s AS v, s AS r FROM e
        UNION
        SELECT e.s, reach.r FROM e JOIN reach ON e.d = reach.v),
      labels AS (SELECT v, min(r) AS cluster_id FROM reach GROUP BY v),
      alldocs AS (
        SELECT doc_id, coalesce(l.cluster_id, doc_id) AS cluster_id
        FROM documents LEFT JOIN labels l ON documents.doc_id = l.v),
      sizes AS (
        SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size
        FROM alldocs GROUP BY 1)
      SELECT a.doc_id, a.cluster_id, s.cluster_size
      FROM alldocs a JOIN sizes s USING (cluster_id)
      ORDER BY a.doc_id"""))

  // ---------------------------------------------------------------------
  // q58: n-gram Jaccard with a document-frequency cut (the hot-shingle
  // mitigation SCALE.md prescribes for the explode join)
  // ---------------------------------------------------------------------

  /** q53's verification join with a df-cut: shingles appearing in more
    * than `maxDf` documents are effectively stopword phrases — they blow
    * up the equi-join (a shingle in f docs contributes O(f^2) candidate
    * pairs) while carrying no dedup signal. Dropping them bounds the
    * join's per-key fan-out by maxDf^2. Jaccard is computed over the
    * RETAINED shingle space (per-doc set sizes recomputed after the cut),
    * so the score is self-consistent and the oracle replays it exactly. */
  def ngramJaccardDfCut(s: SparkSession, d: String, n: Int,
      threshold: Double, maxDf: Int): DataFrame = {
    val ex = shingleKeySets(Tables.documents(s, d), n)
      .select(col("doc_id"), explode(col("ks")).as("k"))
    val retainedKeys = ex.groupBy(col("k"))
      .agg(count(lit(1)).as("df")).filter(col("df") <= maxDf)
      .select(col("k"))
    // the df-cut key relation is materialized once: the per-doc sizes
    // and both sides of the pair join read it. At scale this is the
    // filtered posting relation an SSJoin deployment materializes
    // anyway (8-byte key + id per row).
    val retained = graft.Mat(ex.join(retainedKeys, Seq("k")))
    val sizes = retained.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
    // the fan-out ships only (doc_id, k); the set sizes re-attach per
    // candidate pair after aggregation
    val a = retained.select(col("doc_id").as("id1"), col("k"))
    val b = retained.select(col("doc_id").as("id2"), col("k"))
    a.join(b, Seq("k")).filter(col("id1") < col("id2"))
      .groupBy(col("id1"), col("id2"))
      .agg(count(lit(1)).as("inter"))
      .join(sizes.select(col("doc_id").as("id1"), col("n_sh").as("na")), Seq("id1"))
      .join(sizes.select(col("doc_id").as("id2"), col("n_sh").as("nb")), Seq("id2"))
      .select(col("id1"), col("id2"), col("inter"),
        round(col("inter").cast("double") / (col("na") + col("nb") - col("inter")), 4)
          .as("jaccard"))
      .filter(col("jaccard") >= threshold)
      .orderBy(col("jaccard").desc, col("id1"), col("id2"))
  }

  val q58JaccardDfCut = GraftQuery(
    "q58_jaccard_dfcut",
    "D5,A9; df-cut shingle join (bounded per-key fan-out)",
    (s, d) => ngramJaccardDfCut(s, d, n = 5, threshold = 0.05, maxDf = 20),
    Some("""WITH tk AS (
        SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks
        FROM documents),
      sh AS (
        SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(toks)-3),
          i -> toks[i]||' '||toks[i+1]||' '||toks[i+2]||' '||toks[i+3]||' '||toks[i+4]))) AS sgl
        FROM tk WHERE len(toks) >= 5),
      ex AS (
        SELECT doc_id, ('0x' || substr(md5(sgl), 1, 15))::BIGINT AS k FROM sh),
      keep AS (SELECT k FROM ex GROUP BY k HAVING count(*) <= 20),
      retained AS (SELECT ex.doc_id, ex.k FROM ex JOIN keep USING (k)),
      sizes AS (SELECT doc_id, count(*) AS n_sh FROM retained GROUP BY 1),
      keyed AS (SELECT r.doc_id, r.k, s.n_sh FROM retained r JOIN sizes s USING (doc_id)),
      p AS (
        SELECT a.doc_id AS id1, b.doc_id AS id2,
          CAST(count(*) AS BIGINT) AS inter,
          any_value(a.n_sh) AS na, any_value(b.n_sh) AS nb
        FROM keyed a JOIN keyed b ON a.k = b.k AND a.doc_id < b.doc_id
        GROUP BY 1, 2)
      SELECT id1, id2, inter,
        round(inter::DOUBLE / (na + nb - inter), 4) AS jaccard
      FROM p WHERE round(inter::DOUBLE / (na + nb - inter), 4) >= 0.05
      ORDER BY jaccard DESC, id1, id2"""))

  // ---------------------------------------------------------------------
  // q69: incremental dedup — a new batch against the accumulated corpus
  // (the daily-crawl-increment shape: corpus-internal pairs are NOT
  // recomputed; only batch-driven candidates are generated)
  // ---------------------------------------------------------------------

  /** Batch survivors under incremental sketch dedup: a new document is
    * dropped if it near-dups (3-shingle J >= threshold on MinHash band
    * candidates) ANY existing corpus document, or a LOWER-id document of
    * its own batch (keep-first within the increment). Candidate
    * generation is driven from the batch side of the band join, so work
    * scales with the increment, not the corpus — at real scale the
    * corpus band table is the materialized artifact of previous runs
    * (bucketed by band key), and each increment equi-joins against it. */
  def incrementalDedupSurvivors(s: SparkSession, d: String,
      isNew: Column, threshold: Double): DataFrame = {
    val all = Tables.documents(s, d).withColumn("is_new", isNew)
    incrementalDedupFrames(
      all.filter(!col("is_new")), all.filter(col("is_new")), threshold)
  }

  /** Frame form of the incremental dedup (the streaming micro-batch
    * entry, streaming.StreamingJobs.runStreamingTextDedup): `ref` is the
    * accumulated reference (any match drops a new doc), `batch` the
    * increment (only a lower-id increment doc dominates). Both need
    * (doc_id, source, text). */
  def incrementalDedupFrames(ref: DataFrame, batch: DataFrame,
      threshold: Double): DataFrame = {
    val docs = ref.select(col("doc_id"), col("source"), col("text"))
      .withColumn("is_new", lit(false))
      .unionByName(batch.select(col("doc_id"), col("source"), col("text"))
        .withColumn("is_new", lit(true)))
    val sk = sketchFrame(docs, carry = Seq("is_new"))
    val banded = bandRows(sk, carry = Seq("is_new"))
    val batchSide = banded.filter(col("is_new"))
      .select(col("doc_id").as("id1"), col("b"), col("key"))
    val allSide = banded
      .select(col("doc_id").as("id2"), col("is_new").as("new2"), col("b"), col("key"))
    val cand = batchSide.join(allSide, Seq("b", "key"))
      .filter(col("id1") =!= col("id2"))
      // vs reference: any match drops the new doc; vs batch: only a
      // lower-id batch doc dominates (keep-first within the increment)
      .filter(!col("new2") || col("id2") < col("id1"))
      .select(col("id1"), col("id2")).distinct()
    val dropped = verifyPairs(sk, cand, threshold)
      .select(col("id1").as("doc_id")).distinct()
    batch.select(col("doc_id"), col("source"))
      .join(dropped, Seq("doc_id"), "left_anti")
      .orderBy(col("doc_id"))
  }

  val q69IncrementalDedup = GraftQuery(
    "q69_incremental_dedup",
    "D5-incremental; batch-vs-corpus dedup (batch-driven candidates)",
    (s, d) => incrementalDedupSurvivors(s, d, col("doc_id") % 7 === 0, threshold = 0.8),
    Some("""WITH tk AS (
        SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks
        FROM documents),
      sh AS (
        SELECT doc_id, list_distinct(list_transform(range(1, len(toks)-1),
          i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
        FROM tk WHERE len(toks) >= 3),
      sig AS (
        SELECT doc_id,
          [list_min(list_transform(sh, s -> md5('0:' || s))),
           list_min(list_transform(sh, s -> md5('1:' || s))),
           list_min(list_transform(sh, s -> md5('2:' || s))),
           list_min(list_transform(sh, s -> md5('3:' || s))),
           list_min(list_transform(sh, s -> md5('4:' || s))),
           list_min(list_transform(sh, s -> md5('5:' || s))),
           list_min(list_transform(sh, s -> md5('6:' || s))),
           list_min(list_transform(sh, s -> md5('7:' || s)))] AS sig
        FROM sh),
      bands AS (
        SELECT doc_id, b, sig[2*b+1] || '|' || sig[2*b+2] AS key
        FROM sig CROSS JOIN (SELECT unnest(range(0, 4)) AS b)),
      cand AS (
        SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
        FROM bands a JOIN bands b ON a.b = b.b AND a.key = b.key
        WHERE a.doc_id % 7 = 0 AND a.doc_id <> b.doc_id
          AND (b.doc_id % 7 <> 0 OR b.doc_id < a.doc_id)),
      ver AS (
        SELECT c.id1,
          round(len(list_intersect(s1.sh, s2.sh))::DOUBLE /
            (len(s1.sh) + len(s2.sh) - len(list_intersect(s1.sh, s2.sh))), 4) AS jaccard
        FROM cand c JOIN sh s1 ON c.id1 = s1.doc_id JOIN sh s2 ON c.id2 = s2.doc_id),
      dropped AS (SELECT DISTINCT id1 FROM ver WHERE jaccard >= 0.8)
      SELECT doc_id, source FROM documents
      WHERE doc_id % 7 = 0 AND doc_id NOT IN (SELECT id1 FROM dropped)
      ORDER BY doc_id"""))

  // ---------------------------------------------------------------------
  // q68: cross-document repeated spans — the span-level dedup signal
  // (Lee et al., "Deduplicating Training Data Makes Language Models
  // Better": repeated passages induce memorization even when documents
  // as a whole are distinct) plus cross-SOURCE overlap, the
  // benchmark-contamination question (a span shared by two corpora).
  // ---------------------------------------------------------------------

  /** 10-token spans appearing in more than one document: one explode ->
    * one groupBy-on-span shuffle, linear in corpus token count (the
    * 100 TB form adds a df cap exactly like q58's hot-shingle cut; at
    * that scale the group key would be the md5 of the span with the text
    * sampled per group). n_sources > 1 flags cross-corpus leakage. */
  def dupSpans(s: SparkSession, d: String, n: Int): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), col("source"), toks(col("text")).as("t"))
      .filter(size(col("t")) >= n)
      .select(col("doc_id"), col("source"), explode(shingleArray(col("t"), n)).as("span"))
      .groupBy(col("span"))
      .agg(count(lit(1)).as("df"),
        countDistinct(col("source")).as("n_sources"),
        min(col("doc_id")).as("min_doc"), max(col("doc_id")).as("max_doc"))
      .filter(col("df") >= 2)
      .orderBy(col("df").desc, col("span"))

  val q68DupSpans = GraftQuery(
    "q68_dup_spans",
    "D5-span,A9; repeated-passage + cross-source contamination detection",
    (s, d) => dupSpans(s, d, n = 10),
    Some("""WITH tk AS (
        SELECT doc_id, source, string_split_regex(lower(trim(text)), '\s+') AS toks
        FROM documents),
      sh AS (
        SELECT doc_id, source, unnest(list_distinct(list_transform(range(1, len(toks)-8),
          i -> toks[i]||' '||toks[i+1]||' '||toks[i+2]||' '||toks[i+3]||' '||toks[i+4]||' '||
               toks[i+5]||' '||toks[i+6]||' '||toks[i+7]||' '||toks[i+8]||' '||toks[i+9]))) AS span
        FROM tk WHERE len(toks) >= 10)
      SELECT span, CAST(count(*) AS BIGINT) AS df,
        CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
        min(doc_id) AS min_doc, max(doc_id) AS max_doc
      FROM sh GROUP BY span HAVING count(*) >= 2
      ORDER BY df DESC, span"""))

  // ---------------------------------------------------------------------
  // q161/q162: MAXIMAL cross-document shared spans — the ExactSubstr
  // tier of the dedup family (Lee et al., "Deduplicating Training Data
  // Makes Language Models Better": remove repeated substrings, not just
  // near-duplicate whole documents). q68 reports which fixed-n spans
  // repeat; these recover the full EXTENT of each repeated passage and
  // the keep-first excision profile — the actual deliverable of
  // substring-level dedup.
  // ---------------------------------------------------------------------

  /** Maximal cross-document repeated token spans. Plan: positional
    * n-gram shingles (native kernel, one row per window) → hot-span
    * df-cut (occurrences > maxOcc dropped — the boilerplate guard; an
    * ultra-hot shingle inside a long span at worst SPLITS its island,
    * never invents one) → self-equi-join on the span text (cross-doc
    * only, d1 < d2) → per (d1, d2, diagonal p1-p2) consecutive matching
    * windows merge into maximal runs with the islands trick (p1 minus
    * row_number is constant within a run) → spans of token length >=
    * minLen. Every join is an equi-join; window partitions are single
    * matching diagonals of single doc pairs, bounded by the df-cut. At
    * 100 TB the span join key would be the span's md5 (the q58/q68
    * footnote) — text keys keep the DuckDB oracle byte-faithful here.
    * Output positions are 1-based token offsets. */
  def sharedSpans(s: SparkSession, d: String, n: Int, minLen: Int,
      maxOcc: Int): DataFrame =
    sharedSpansFrame(Tables.documents(s, d), n, minLen, maxOcc)

  private[graft] def sharedSpansFrame(docs: DataFrame, n: Int, minLen: Int,
      maxOcc: Int): DataFrame = {
    require(n >= 2 && minLen >= n && maxOcc >= 2,
      s"need n >= 2, minLen >= n, maxOcc >= 2; got n=$n minLen=$minLen maxOcc=$maxOcc")
    val ps = docs
      .select(col("doc_id"), toks(col("text")).as("t"))
      .filter(size(col("t")) >= n)
      .select(col("doc_id"), posexplode(posShingleArray(col("t"), n)))
      .select(col("doc_id"), (col("pos") + 1).cast("long").as("pos"),
        col("col").as("span"))
    val keep = ps.groupBy(col("span")).agg(count(lit(1)).as("occ"))
      .filter(col("occ") <= maxOcc).select(col("span"))
    val psk = ps.join(keep, Seq("span"))
    val m = psk.select(col("span"), col("doc_id").as("d1"), col("pos").as("p1"))
      .join(psk.select(col("span"), col("doc_id").as("d2"), col("pos").as("p2")),
        Seq("span"))
      .filter(col("d1") < col("d2"))
      .select(col("d1"), col("d2"), col("p1"), col("p2"),
        (col("p1") - col("p2")).as("diag"))
    val w = Window.partitionBy(col("d1"), col("d2"), col("diag")).orderBy(col("p1"))
    m.withColumn("grp", col("p1") - row_number().over(w))
      .groupBy(col("d1"), col("d2"), col("diag"), col("grp"))
      .agg(min(col("p1")).as("start1"), min(col("p2")).as("start2"),
        (max(col("p1")) - min(col("p1")) + n).as("span_len"))
      .filter(col("span_len") >= minLen)
      .select(col("d1"), col("d2"), col("start1"), col("start2"), col("span_len"))
      .orderBy(col("d1"), col("d2"), col("start1"), col("start2"))
  }

  val q161SharedSpans = GraftQuery(
    "q161_shared_spans",
    "D5-span ext: maximal cross-doc repeated spans (ExactSubstr extent merge)",
    (s, d) => sharedSpans(s, d, n = 5, minLen = 20, maxOcc = 100),
    Some("""WITH tk AS (
        SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks
        FROM documents),
      ps AS (
        SELECT doc_id, i AS pos,
          toks[i]||' '||toks[i+1]||' '||toks[i+2]||' '||toks[i+3]||' '||toks[i+4] AS span
        FROM tk, UNNEST(range(1, len(toks)-3)) AS u(i)),
      df AS (SELECT span, count(*) AS occ FROM ps GROUP BY span),
      psk AS (SELECT ps.* FROM ps JOIN df USING (span) WHERE occ <= 100),
      m AS (
        SELECT a.doc_id AS d1, b.doc_id AS d2, a.pos AS p1, b.pos AS p2
        FROM psk a JOIN psk b ON a.span = b.span AND a.doc_id < b.doc_id),
      isl AS (
        SELECT d1, d2, p1, p2,
          p1 - row_number() OVER (PARTITION BY d1, d2, (p1-p2) ORDER BY p1) AS grp
        FROM m)
      SELECT d1, d2, CAST(min(p1) AS BIGINT) AS start1,
        CAST(min(p2) AS BIGINT) AS start2,
        CAST(max(p1) - min(p1) + 5 AS BIGINT) AS span_len
      FROM isl GROUP BY d1, d2, (p1-p2), grp
      HAVING max(p1) - min(p1) + 5 >= 20
      ORDER BY d1, d2, start1, start2"""))

  /** Keep-first substring-dedup profile: for each document that repeats
    * a span some EARLIER document (lower doc_id — q50's keep-first
    * convention at span level) already carries, union its cut intervals
    * (gaps-and-islands on [start2, start2+len-1], the q152 machinery)
    * and report spans cut / tokens cut / tokens kept. The actual excision
    * is then one slice-and-rejoin over the token array; the profile is
    * the auditable part (and the part a 100 TB run would want to inspect
    * BEFORE destructively rewriting a corpus). */
  def substrDedupProfile(s: SparkSession, d: String, n: Int, minLen: Int,
      maxOcc: Int): DataFrame = {
    val cuts = sharedSpans(s, d, n, minLen, maxOcc)
      .select(col("d2").as("doc_id"), col("start2").as("lo"),
        (col("start2") + col("span_len") - 1).as("hi"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("lo"), col("hi"))
    val islands = cuts
      .withColumn("prevmax",
        max(col("hi")).over(w.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("newisl",
        (col("prevmax").isNull || col("lo") > col("prevmax")).cast("int"))
      .withColumn("isl",
        sum(col("newisl")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("doc_id"), col("isl"))
      .agg(min(col("lo")).as("lo"), max(col("hi")).as("hi"))
    val toklen = Tables.documents(s, d)
      .select(col("doc_id"), size(toks(col("text"))).cast("long").as("n_toks"))
    islands.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_spans_cut"),
        sum(col("hi") - col("lo") + 1).as("tokens_cut"))
      .join(toklen, Seq("doc_id"))
      .select(col("doc_id"), col("n_spans_cut"), col("tokens_cut"),
        (col("n_toks") - col("tokens_cut")).as("tokens_kept"))
      .orderBy(col("doc_id"))
  }

  val q162SubstrDedup = GraftQuery(
    "q162_substr_dedup",
    "D5-span ext: keep-first substring-dedup excision profile (interval union)",
    (s, d) => substrDedupProfile(s, d, n = 5, minLen = 20, maxOcc = 100),
    Some("""WITH tk AS (
        SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks
        FROM documents),
      ps AS (
        SELECT doc_id, i AS pos,
          toks[i]||' '||toks[i+1]||' '||toks[i+2]||' '||toks[i+3]||' '||toks[i+4] AS span
        FROM tk, UNNEST(range(1, len(toks)-3)) AS u(i)),
      df AS (SELECT span, count(*) AS occ FROM ps GROUP BY span),
      psk AS (SELECT ps.* FROM ps JOIN df USING (span) WHERE occ <= 100),
      m AS (
        SELECT a.doc_id AS d1, b.doc_id AS d2, a.pos AS p1, b.pos AS p2
        FROM psk a JOIN psk b ON a.span = b.span AND a.doc_id < b.doc_id),
      isl AS (
        SELECT d1, d2, p1, p2,
          p1 - row_number() OVER (PARTITION BY d1, d2, (p1-p2) ORDER BY p1) AS grp
        FROM m),
      spans AS (
        SELECT d2 AS doc_id, min(p2) AS lo,
          min(p2) + max(p1) - min(p1) + 4 AS hi
        FROM isl GROUP BY d1, d2, (p1-p2), grp
        HAVING max(p1) - min(p1) + 5 >= 20),
      mrg AS (
        SELECT doc_id, lo, hi,
          max(hi) OVER (PARTITION BY doc_id ORDER BY lo, hi
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prevmax
        FROM spans),
      isl2 AS (
        SELECT doc_id, lo, hi,
          sum(CASE WHEN prevmax IS NULL OR lo > prevmax THEN 1 ELSE 0 END)
            OVER (PARTITION BY doc_id ORDER BY lo, hi
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl
        FROM mrg),
      u AS (SELECT doc_id, isl, min(lo) AS lo, max(hi) AS hi
        FROM isl2 GROUP BY doc_id, isl),
      agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans_cut,
        CAST(sum(hi - lo + 1) AS BIGINT) AS tokens_cut FROM u GROUP BY doc_id),
      tl AS (SELECT doc_id,
        len(string_split_regex(lower(trim(text)), '\s+')) AS n_toks
        FROM documents)
      SELECT a.doc_id, n_spans_cut, tokens_cut,
        CAST(n_toks - tokens_cut AS BIGINT) AS tokens_kept
      FROM agg a JOIN tl USING (doc_id) ORDER BY a.doc_id"""))

  // ---------------------------------------------------------------------
  // q92: fuzzy string dedup — edit-distance near-dup over short titles
  // (the entity-resolution / title-canonicalization shape: "Sr. Data
  // Engineer" vs "Senior Data Engineer"). Classic blocking plan: collapse
  // the corpus to its distinct-name vocabulary first (one hash agg — at
  // 10^10 rows the vocabulary, not the corpus, is what pairs), block on a
  // cheap key (the head noun), pair only within blocks, and verify with
  // exact Levenshtein. Pair space is sum(block²) over vocabulary blocks,
  // never corpus² — same candidates-then-verify discipline as the sketch
  // family, with the blocking key playing the band role.
  // ---------------------------------------------------------------------

  /** Fuzzy near-dup pairs over a (name) column: distinct names -> TWO
    * blocking keys per name (head token, tail token — the multi-table
    * LSH idea applied to blocking: a pair is a candidate if EITHER key
    * collides, so a single-token swap can't hide a match) -> distinct
    * within-block canonical pairs -> levenshtein verify at `maxDist`.
    * Codegen throughout (levenshtein is a native Spark expression, not a
    * UDF). Measured on the test vocabulary: tail-only blocking recall
    * 0.83 (misses noun swaps like 'blue bolt'/'blue rod'), head+tail 1.0
    * (gated in OperatorSpec against the exact all-pairs form). */
  def fuzzyNamePairs(names: DataFrame, nameCol: String, maxDist: Int): DataFrame = {
    val vocab = names.groupBy(lower(col(nameCol)).as("name"))
      .agg(count(lit(1)).as("n_rows"))
    val keyed = vocab.select(
      explode(array(
        concat(lit("h:"), regexp_extract(col("name"), "^[a-z]+", 0)),
        concat(lit("t:"), regexp_extract(col("name"), "[a-z]+$", 0)))).as("bkey"),
      col("name"), col("n_rows"))
    val a = keyed.select(col("bkey"), col("name").as("name1"), col("n_rows").as("n1"))
    val b = keyed.select(col("bkey"), col("name").as("name2"), col("n_rows").as("n2"))
    a.join(b, Seq("bkey"))
      .filter(col("name1") < col("name2"))
      .select(col("name1"), col("name2"), col("n1"), col("n2"))
      .dropDuplicates("name1", "name2")
      .withColumn("dist", levenshtein(col("name1"), col("name2")))
      .filter(col("dist") <= maxDist)
  }

  val q92FuzzyDedup = GraftQuery(
    "q92_fuzzy_dedup",
    "D5-ext: edit-distance near-dup with two-key vocabulary blocking",
    (s, d) =>
      fuzzyNamePairs(Tables.part(s, d), "p_name", maxDist = 3)
        .select(col("name1"), col("name2"), col("dist").cast("long").as("dist"),
          col("n1"), col("n2"))
        .orderBy(col("name1"), col("name2")),
    Some("""WITH vocab AS (
        SELECT lower(p_name) AS name, count(*) AS n_rows FROM part GROUP BY 1),
      keyed AS (
        SELECT 'h:' || regexp_extract(name, '^[a-z]+') AS bkey, name, n_rows FROM vocab
        UNION ALL
        SELECT 't:' || regexp_extract(name, '[a-z]+$') AS bkey, name, n_rows FROM vocab),
      cand AS (
        SELECT DISTINCT a.name AS name1, b.name AS name2,
          a.n_rows AS n1, b.n_rows AS n2
        FROM keyed a JOIN keyed b ON a.bkey = b.bkey AND a.name < b.name)
      SELECT name1, name2,
        CAST(levenshtein(name1, name2) AS BIGINT) AS dist, n1, n2
      FROM cand WHERE levenshtein(name1, name2) <= 3
      ORDER BY name1, name2"""))

  // ---------------------------------------------------------------------
  // q109: train/test decontamination (D5 ext — the eval-leak check)
  // ---------------------------------------------------------------------

  /** The n-shingle key sets with `b`, q76's deterministic md5 split
    * bucket, carried (8-word shingles make accidental key collisions
    * require genuinely shared text). Shared by q109/q133. */
  private def splitKeySets(s: SparkSession, d: String, n: Int): DataFrame =
    shingleKeySets(Tables.documents(s, d)
      .withColumn("b", md5Long(col("doc_id").cast("string"), 8) % 100), n, carry = Seq("b"))

  /** Per-test-doc contamination report from the test key sets and a
    * per-doc hit count: the shared q109/q133 output shape. */
  private def contaminationReport(test: DataFrame, hits: DataFrame): DataFrame =
    test.select(col("doc_id"), col("n_sh"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_sh").cast("long").as("n_sh"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"))
      .withColumn("contaminated", (col("n_hit") > 0).cast("int"))
      .orderBy(col("doc_id"))

  /** q109: benchmark decontamination — flag every test-split document
    * sharing an 8-word shingle with any train-split document (the
    * GPT-3/Gopher eval-leak scan). Split is q76's deterministic md5
    * bucket (train <80, test >=90), so the check is replayable anywhere.
    * The probe side joins against the DISTINCT train shingle-key set, so
    * per-probe fan-out is <=1 by construction — no hot-shingle blow-up,
    * no df-cut needed (contrast q53's doc-level pair join): at 100 TB
    * this is one dedup of the train shingles (shuffle on an 8-byte key)
    * + one bounded equi-join. q133 is the same check with the train-side
    * shuffle removed entirely. */
  val q109Decontaminate = GraftQuery(
    "q109_decontaminate",
    "LLM-pipeline: train/test decontamination (n-gram overlap); D5 ext",
    (s, d) => {
      val sk = splitKeySets(s, d, n = 8)
      val trainKeys = sk.filter(col("b") < 80).select(explode(col("ks")).as("k")).distinct()
      val test = sk.filter(col("b") >= 90)
      val hits = test.select(col("doc_id"), explode(col("ks")).as("k"))
        .join(trainKeys, Seq("k"))
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n_hit"))
      contaminationReport(test, hits)
    },
    Some("""WITH b AS (
        SELECT doc_id, text,
          ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 AS b
        FROM documents),
      tk AS (
        SELECT doc_id, b, string_split_regex(lower(trim(text)), '\s+') AS toks
        FROM b),
      sh AS (
        SELECT doc_id, b, list_distinct(list_transform(range(1, len(toks)-6),
          i -> toks[i]||' '||toks[i+1]||' '||toks[i+2]||' '||toks[i+3]||' '
            ||toks[i+4]||' '||toks[i+5]||' '||toks[i+6]||' '||toks[i+7])) AS sh
        FROM tk WHERE len(toks) >= 8),
      ex AS (
        SELECT doc_id, b, len(sh) AS n_sh,
          ('0x' || substr(md5(unnest(sh)), 1, 15))::BIGINT AS k
        FROM sh),
      train_keys AS (SELECT DISTINCT k FROM ex WHERE b < 80),
      test_ex AS (SELECT * FROM ex WHERE b >= 90),
      hits AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hit
        FROM test_ex JOIN train_keys USING (k) GROUP BY 1)
      SELECT t.doc_id, CAST(t.n_sh AS BIGINT) AS n_sh,
        coalesce(h.n_hit, 0) AS n_hit,
        CAST(coalesce(h.n_hit, 0) > 0 AS INT) AS contaminated
      FROM (SELECT DISTINCT doc_id, n_sh FROM test_ex) t
      LEFT JOIN hits h USING (doc_id)
      ORDER BY t.doc_id"""))

  /** q133: the same decontamination check with the train-side shuffle
    * REMOVED — the shape that matters when the train corpus is the
    * 100 TB side and the test/benchmark set is the small one (the usual
    * direction). q109 pays one full distinct over the train shingle keys
    * (a corpus-sized shuffle) before the bounded join; here the train
    * side is only ever SCANNED:
    *
    *   1. one scalar aggregate builds a Bloom filter over the TEST
    *      shingle keys ([[graft.functions.BloomFunctions.bloomAgg]],
    *      Spark's own runtime-filter sketch) — blob size is set by the
    *      test set (MBs), collected once, embedded as a literal;
    *   2. the train scan keeps only keys the filter admits — a codegen'd
    *      scan-stage predicate, NO train shuffle; survivors = true
    *      overlaps + an FPP-bounded sliver (~2% at full filter load);
    *   3. the sliver is distinct'd (shuffle ∝ candidates, not corpus)
    *      and exact-joined back to the broadcast test frame — Bloom has
    *      no false negatives, and the equi-join kills its false
    *      positives, so the result is EXACT: the oracle is q109's.
    *
    * The moved work: q109 shuffles O(train distinct keys); q133 shuffles
    * O(overlap + FPP·train distinct) — tunable to ~zero with
    * `spark.graft.bloom.numBits` sized to the test set. */
  def decontaminateBloom(s: SparkSession, d: String, n: Int): DataFrame = {
    val sk = splitKeySets(s, d, n)
    val test = sk.filter(col("b") >= 90)
    val testEx = test.select(col("doc_id"), explode(col("ks")).as("k"))
    val blob = testEx
      .agg(graft.functions.BloomFunctions.bloomAgg(col("k"),
        GraftConf.bloomEstItems(s), GraftConf.bloomNumBits(s)).as("bf"))
      .head().getAs[Array[Byte]]("bf")
    val hits =
      if (blob == null) // empty test split: nothing can be contaminated
        testEx.select(col("doc_id")).limit(0)
          .withColumn("n_hit", lit(0L))
      else {
        val candTrain = sk.filter(col("b") < 80).select(explode(col("ks")).as("k"))
          .filter(graft.functions.BloomFunctions.mightContain(blob, col("k")))
          .distinct()
        candTrain.join(broadcast(testEx), Seq("k"))
          .groupBy(col("doc_id")).agg(count(lit(1)).as("n_hit"))
      }
    contaminationReport(test, hits)
  }

  val q133DecontaminateBloom = GraftQuery(
    "q133_bloom_decontaminate",
    "LLM-pipeline: decontamination via broadcast Bloom pre-filter (scan-only train side); D5 ext",
    (s, d) => decontaminateBloom(s, d, n = 8),
    q109Decontaminate.oracle)

  /** SemDeDup survivors (public Abbas et al. 2023 pattern): cluster the
    * embeddings with the IVF coarse quantizer (single assignment — no
    * probing), candidate pairs only WITHIN clusters, and in every
    * above-threshold pair keep the endpoint FARTHEST from its centroid
    * (the paper's diversity-preserving rule; ties keep the smaller id).
    * A doc is removed iff some same-cluster doc above the cosine
    * threshold beats it (lower centroid-cosine, tie smaller id);
    * survivors are everything else.
    *
    * Scale: pair volume is Σ|cell|², bounded by the quantizer's balance
    * (`spark.graft.ivf.cells`), never corpus²; the within-cell join is
    * the same salted bucket equi-join every ANN tier uses. Cross-cluster
    * near-dups are deliberately out of scope — the paper's accepted
    * recall trade for one-assignment candidate generation. */
  def semDedupSurvivors(s: SparkSession, d: String, threshold: Double): DataFrame = {
    val (assigned, centroids) = Ann.ivfIndex(s, d)
    val scored = assigned
      .join(broadcast(centroids), Seq("centroid_id"))
      .select(col("vec_id"), col("centroid_id"),
        cosineFast(col("vec"), col("cvec")).as("c_sim"))
    val pairs = Ann.ivfNearDup(s, d, threshold, nprobe = 1)
      .select(col("id1"), col("id2"))
    val directed = pairs.select(col("id1").as("x"), col("id2").as("y"))
      .union(pairs.select(col("id2").as("x"), col("id1").as("y")))
    val removed = directed
      .join(scored.select(col("vec_id").as("x"), col("c_sim").as("xs")), Seq("x"))
      .join(scored.select(col("vec_id").as("y"), col("c_sim").as("ys")), Seq("y"))
      .filter(col("ys") < col("xs") ||
        (col("ys") === col("xs") && col("y") < col("x")))
      .select(col("x").as("vec_id")).distinct()
    scored.join(removed, Seq("vec_id"), "left_anti")
      .select(col("vec_id"), col("centroid_id"),
        round(col("c_sim"), 4).as("c_sim"))
      .orderBy(col("vec_id"))
  }

  /** q129: SemDeDup embedding-cluster semantic dedup (no SQL oracle:
    * k-means clustering is procedural; SemDedupSpec gates dominance
    * soundness, survivor closure and determinism — closure is the
    * fixed-point property). */
  val q129SemDedup = GraftQuery(
    "q129_semdedup",
    "D5 ext; SemDeDup cluster-pruned semantic dedup (spec-gated)",
    (s, d) => semDedupSurvivors(s, d, threshold = 0.35),
    None)

  /** q153: the q64 transitive dup clusters computed INCREMENTALLY — the
    * verified near-dup edge set is split into `nBatches` increments and
    * folded through the streaming CC state contract
    * (StreamingJobs.applyCcBatch: O(vertices) star-relation state, each
    * batch merges new edges with the prior stars, batchId-idempotent).
    * Carries q64's full recursive-CTE oracle: the incremental fold must
    * reproduce the one-shot transitive closure bit-for-bit, which is
    * exactly the guarantee a standing "which cluster does this new
    * posting join" job needs. Mirrors q134's streamed/batch pairing. */
  def streamedDupClusters(s: SparkSession, d: String, threshold: Double,
      nBatches: Int): DataFrame = {
    val pairs = graft.Mat(sketchVerifiedPairs(s, d, threshold).select(col("id1"), col("id2")))
    val comp = graft.streaming.StreamingJobs.drain(s, "graft_cc_state", pairs, "id1",
      nBatches) {
      (b, id, dir) => graft.streaming.StreamingJobs.applyCcBatch(s, b, id, dir)
    }
    labelClusters(Tables.documents(s, d), Right(comp))
  }

  val q153StreamedCc = GraftQuery(
    "q153_streamed_dup_clusters",
    "D5 ext + streaming: incremental connected components on versioned state",
    (s, d) => streamedDupClusters(s, d, threshold = 0.8, nBatches = 3),
    q64DupClusters.oracle)

  // ---------------------------------------------------------------------
  // q170: prefix-filtered EXACT set-similarity join (SSJoin/PPJoin
  // family) — the no-recall-loss scale path for threshold Jaccard
  // ---------------------------------------------------------------------

  /** Exact threshold-Jaccard pairs via prefix filtering [Chaudhuri-
    * Ganti-Kaushik, SSJoin, ICDE 2006; Xiao et al., PPJoin, WWW 2008]:
    * order every document's shingle keys by ascending corpus document
    * frequency (rarest first, ties by key — a total order), keep only
    * the first `|x| − ⌈τ·|x|⌉ + 1` keys as the doc's PREFIX, and join
    * docs on shared prefix keys. Theorem: J(x,y) ≥ τ forces a common
    * key inside BOTH prefixes (if the smallest common key fell outside
    * x's prefix, all common keys would sit in x's suffix of size
    * ⌈τ|x|⌉ − 1 < ⌈τ|x|⌉ ≤ |x∩y|), so unlike MinHash banding (q51) the
    * candidate set provably contains every qualifying pair — EXACT
    * results, no recall knob to sweep, which is why the output carries
    * a full DuckDB oracle (brute-force replay) rather than a recall
    * gate.
    *
    * Scale story: the join fans out only on PREFIX keys — the rarest
    * ⌈(1−τ)|x|⌉+1 shingles of each doc — so per-key fan-out is bounded
    * by the df of RARE keys (the df-ascending order exists precisely to
    * put the most selective keys in the prefix; the hot stopword-phrase
    * keys that blow up q53's full explode join land in suffixes and
    * never join). At τ=0.5 half of each doc's keys join; at τ=0.9 a
    * tenth. The ceil is computed in INTEGER arithmetic (τ = num/den)
    * — a float τ·|x| landing an ulp above an integer would silently
    * shorten prefixes and drop qualifying pairs. */
  def prefixFilterJaccard(s: SparkSession, d: String, n: Int,
      tauNum: Int, tauDen: Int): DataFrame =
    // the key sets are materialized once: the df count, the prefix
    // ranking and both sides of the verify read them
    prefixJaccardPairs(graft.Mat(shingleKeySets(Tables.documents(s, d), n)), tauNum, tauDen)

  /** q170 over a key-set frame (doc_id, n_sh, ks). */
  private[graft] def prefixJaccardPairs(sk: DataFrame, tauNum: Int, tauDen: Int): DataFrame = {
    require(tauNum >= 1 && tauDen >= tauNum, "need 0 < tau <= 1 as num/den")
    val ex = sk.select(col("doc_id"), col("n_sh"), explode(col("ks")).as("k"))
    val dfk = ex.groupBy(col("k")).agg(count(lit(1)).as("df"))
    // each doc's keys ranked in global (df asc, k asc) order; the first
    // n_sh − ⌈τ·n_sh⌉ + 1 are its prefix, and the 1-based rank feeds the
    // positional filter
    val pref = ex.join(dfk, Seq("k"))
      .withColumn("pos", row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("df"), col("k"))))
      .filter(col("pos") <= expr(s"n_sh - (n_sh * $tauNum + ${tauDen - 1}) DIV $tauDen + 1"))
    // candidate join with the two PPJoin prunes, both integer-exact:
    // LENGTH filter — J ≥ τ forces min(|x|,|y|) ≥ τ·max(|x|,|y|)
    //   (num·na ≤ den·nb and num·nb ≤ den·na);
    // POSITIONAL filter — for the pair's FIRST shared key (global
    //   order), every common key sits at-or-after its positions i, j,
    //   so |x∩y| ≤ 1 + min(na−i, nb−j); a qualifying pair needs
    //   |x∩y| ≥ α = ⌈τ/(1+τ)·(na+nb)⌉, and it always survives through
    //   its first-shared-key row, for which the bound is tight enough.
    // Deep-prefix-only matches — the bulk of the flat-df candidate
    // volume — die here instead of reaching verification.
    val a = pref.select(col("doc_id").as("id1"), col("n_sh").as("na"),
      col("pos").as("i"), col("k"))
    val b = pref.select(col("doc_id").as("id2"), col("n_sh").as("nb"),
      col("pos").as("j"), col("k"))
    val alphaDen = tauNum + tauDen // α = ⌈τ/(1+τ)·(na+nb)⌉, τ = num/den
    val cand = a.join(b, Seq("k"))
      .filter(col("id1") < col("id2"))
      .filter(col("na") * tauNum <= col("nb") * tauDen &&
        col("nb") * tauNum <= col("na") * tauDen)
      .filter(lit(1) + least(col("na") - col("i"), col("nb") - col("j")) >=
        expr(s"((na + nb) * $tauNum + ${alphaDen - 1}) DIV $alphaDen"))
      .select(col("id1"), col("id2")).distinct()
    // verify: the sorted merge over the full key sets, as q59's
    scoredPairs(sk, cand)
      .filter(col("jaccard") >= tauNum.toDouble / tauDen)
      .orderBy(col("jaccard").desc, col("id1"), col("id2"))
  }

  val q170PrefixJaccard = GraftQuery(
    "q170_prefix_jaccard",
    "D5 ext: prefix-filtered EXACT set-similarity join (SSJoin/PPJoin), full oracle",
    (s, d) => prefixFilterJaccard(s, d, n = 3, tauNum = 1, tauDen = 2),
    Some("""WITH tk AS (
        SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks
        FROM documents),
      sh AS (
        SELECT doc_id, list_distinct(list_transform(range(1, len(toks)-1),
          i -> toks[i]||' '||toks[i+1]||' '||toks[i+2])) AS sh
        FROM tk WHERE len(toks) >= 3),
      ex AS (SELECT doc_id, len(sh) AS n_sh,
          ('0x' || substr(md5(unnest(sh)), 1, 15))::BIGINT AS k FROM sh),
      p AS (
        SELECT a.doc_id AS id1, b.doc_id AS id2,
          CAST(count(*) AS BIGINT) AS inter,
          any_value(a.n_sh) AS na, any_value(b.n_sh) AS nb
        FROM ex a JOIN ex b ON a.k = b.k AND a.doc_id < b.doc_id
        GROUP BY 1, 2)
      SELECT id1, id2, inter,
        round(inter::DOUBLE / (na + nb - inter), 4) AS jaccard
      FROM p WHERE round(inter::DOUBLE / (na + nb - inter), 4) >= 0.5
      ORDER BY jaccard DESC, id1, id2"""))

  // ---------------------------------------------------------------------
  // q183: leakage-safe corpus split — the q76 hash split done at
  // DUP-CLUSTER granularity
  // ---------------------------------------------------------------------

  /** Train/val/test assignment that cannot leak near-duplicates across
    * splits: hash the q64 TRANSITIVE dup-cluster id (not the doc id)
    * into the 80/10/10 md5 buckets, so every member of a near-dup
    * cluster lands in the same split by construction. This is the
    * published decontamination-by-construction move (the GPT-3 paper's
    * post-hoc eval-overlap scrub — our q109/q133 — exists because its
    * split was drawn doc-level; splitting on the closure of the near-dup
    * relation makes that scrub vacuous for within-corpus dupes). Doc-level
    * md5 splits (q76) provably leak here: any multi-doc cluster straddles
    * splits with prob. 1-Σp_i^{|c|} — LeakSplitSpec exhibits it on this
    * corpus. Plan: the q64 CC pipeline plus one per-row hash expression
    * and the broadcast-sized cluster→split map folded into the existing
    * label join; no new shuffle over the corpus. */
  def leakSafeSplit(s: SparkSession, d: String, threshold: Double): DataFrame =
    dupClusters(s, d, threshold)
      .withColumn("bucket", md5Long(col("cluster_id").cast("string"), 8) % 100)
      .select(col("doc_id"), col("cluster_id"),
        when(col("bucket") < 80, "train")
          .when(col("bucket") < 90, "val")
          .otherwise("test").as("split"))
      .orderBy(col("doc_id"))

  val q183LeakSafeSplit = GraftQuery(
    "q183_leak_safe_split",
    "LLM-pipeline: leakage-safe train/val/test split (hash the dup-cluster id, not the doc id)",
    (s, d) => leakSafeSplit(s, d, threshold = 0.8),
    // q64's full recursive-CTE closure, re-tailed with the bucket
    // assignment — built by substitution so the two oracles can never
    // drift; the require proves the tail actually matched.
    q64DupClusters.oracle.map { o =>
      val tail = """SELECT a.doc_id, a.cluster_id, s.cluster_size
      FROM alldocs a JOIN sizes s USING (cluster_id)
      ORDER BY a.doc_id"""
      require(o.contains(tail), "q64 oracle tail drifted; fix q183's substitution")
      o.replace(tail,
        """SELECT doc_id, cluster_id,
        CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split
      FROM (SELECT doc_id, cluster_id,
        ('0x' || substr(md5(CAST(cluster_id AS VARCHAR)), 1, 8))::BIGINT % 100 AS b
        FROM alldocs)
      ORDER BY doc_id""")
    })

  // ---------------------------------------------------------------------
  // q217: keep-best-of-cluster representative selection
  // ---------------------------------------------------------------------

  /** Representative selection over the q64 transitive dup clusters: keep
    * exactly one document per near-dup cluster — the LONGEST member
    * (keep-longest is the published representative heuristic for near-dup
    * families; length is the cheap monotone proxy for information
    * content), ties broken by doc_id so selection is total and
    * deterministic. Unlike q50's keep-first (exact dup groups) and q54's
    * pair-survivors (which can drop BOTH endpoints of a chain), this is
    * the closure-level materialization: every cluster, including
    * singletons, contributes exactly one keeper, so Σ keep == #clusters
    * by construction.
    *
    * Plan: the q64 CC pipeline plus one broadcast-sized length join and
    * a per-cluster window (clusters are near-dup families — bounded
    * small; the window partitions by cluster_id, never the corpus). */
  def clusterRepresentatives(s: SparkSession, d: String,
      threshold: Double): DataFrame = {
    val w = Window.partitionBy(col("cluster_id"))
      .orderBy(col("n_char").desc, col("doc_id"))
    dupClusters(s, d, threshold)
      .join(Tables.documents(s, d)
        .select(col("doc_id"), length(col("text")).as("n_char")), Seq("doc_id"))
      .withColumn("keep", row_number().over(w) === 1)
      .select(col("doc_id"), col("cluster_id"), col("cluster_size"),
        col("n_char"), col("keep"))
      .orderBy(col("doc_id"))
  }

  val q217ClusterReps = GraftQuery(
    "q217_cluster_reps",
    "LLM-pipeline dedup ext: keep-best-of-cluster representative selection (longest member of each q64 closure)",
    (s, d) => clusterRepresentatives(s, d, threshold = 0.8),
    // q64's full closure, re-tailed with the per-cluster keep-longest
    // window — built by substitution so the two oracles can never drift.
    q64DupClusters.oracle.map { o =>
      val tail = """SELECT a.doc_id, a.cluster_id, s.cluster_size
      FROM alldocs a JOIN sizes s USING (cluster_id)
      ORDER BY a.doc_id"""
      require(o.contains(tail), "q64 oracle tail drifted; fix q217's substitution")
      o.replace(tail,
        """SELECT a.doc_id, a.cluster_id, s.cluster_size,
        CAST(len(d.text) AS INTEGER) AS n_char,
        (row_number() OVER (PARTITION BY a.cluster_id
          ORDER BY len(d.text) DESC, a.doc_id) = 1) AS keep
      FROM alldocs a JOIN sizes s USING (cluster_id)
        JOIN documents d USING (doc_id)
      ORDER BY a.doc_id""")
    })

  // ---------------------------------------------------------------------
  // q219: cross-source near-dup containment matrix
  // ---------------------------------------------------------------------

  /** Source × source overlap report over the VERIFIED near-dup pairs
    * (the q59/q64 substrate): for each ordered source pair (a, b), the
    * number of verified near-dup pairs with one endpoint in each, the
    * number of DISTINCT a-documents having a near-dup in b, and that
    * count as ppm of a's document total — the "how much of corpus A
    * already lives in corpus B" question every multi-source pretraining
    * mix answers before choosing per-source dedup and sampling policy
    * (cross-corpus overlap reporting à la the public LLM dataset
    * cards). Diagonal rows are within-source duplication.
    *
    * Scale shape: the pair relation is the banded+verified one (never
    * all-pairs); labeling is two corpus-linear equi-joins on doc_id;
    * the matrix itself is catalog² — the groupBy partial-aggregates to
    * |sources|² rows before the exchange. */
  def sourceContainment(s: SparkSession, d: String,
      threshold: Double): DataFrame = {
    val src = Tables.documents(s, d).select(col("doc_id"), col("source"))
    // symmetrize by exploding each verified pair into both directions:
    // the union-of-two-projections form evaluates the whole
    // band+verify subtree once per branch (guide §2.4) — the explode
    // form runs it exactly once and needs no materialization
    val sym = sketchVerifiedPairs(s, d, threshold)
      .select(explode(array(
        struct(col("id1"), col("id2")),
        struct(col("id2").as("id1"), col("id1").as("id2")))).as("e"))
      .select(col("e.id1").as("id1"), col("e.id2").as("id2"))
    val labeled = sym
      .join(src.select(col("doc_id").as("id1"), col("source").as("src_a")),
        Seq("id1"))
      .join(src.select(col("doc_id").as("id2"), col("source").as("src_b")),
        Seq("id2"))
    val m = labeled.groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("n_pairs"),
        countDistinct(col("id1")).as("n_docs_dup"))
    val tot = src.groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
    m.join(broadcast(tot.withColumnRenamed("source", "src_a")), Seq("src_a"))
      .select(col("src_a"), col("src_b"), col("n_pairs"), col("n_docs_dup"),
        expr("(n_docs_dup * 1000000) div n_docs").as("containment_ppm"))
      .orderBy(col("src_a"), col("src_b"))
  }

  val q219SourceContainment = GraftQuery(
    "q219_source_containment",
    "LLM-pipeline dedup ext: cross-source near-dup containment matrix (corpus-overlap report on the verified-pair substrate)",
    (s, d) => sourceContainment(s, d, threshold = 0.8),
    // q59's chain up to the verified pairs, re-tailed with the matrix
    // aggregation — built by substitution so the substrates cannot
    // drift.
    q59SketchDedup.oracle.map { o =>
      val tail = """dropped AS (SELECT DISTINCT id2 FROM ver WHERE jaccard >= 0.8)
      SELECT doc_id, source FROM documents
      WHERE doc_id NOT IN (SELECT id2 FROM dropped)
      ORDER BY doc_id"""
      require(o.contains(tail), "q59 oracle tail drifted; fix q219's substitution")
      o.replace(tail,
        """sym AS (
        SELECT id1, id2 FROM ver WHERE jaccard >= 0.8
        UNION ALL
        SELECT id2 AS id1, id1 AS id2 FROM ver WHERE jaccard >= 0.8),
      lab AS (
        SELECT da.source AS src_a, db.source AS src_b, s.id1
        FROM sym s JOIN documents da ON da.doc_id = s.id1
                   JOIN documents db ON db.doc_id = s.id2),
      m AS (
        SELECT src_a, src_b, CAST(count(*) AS BIGINT) AS n_pairs,
          CAST(count(DISTINCT id1) AS BIGINT) AS n_docs_dup
        FROM lab GROUP BY 1, 2),
      tot AS (
        SELECT source, CAST(count(*) AS BIGINT) AS n_docs
        FROM documents GROUP BY 1)
      SELECT m.src_a, m.src_b, m.n_pairs, m.n_docs_dup,
        CAST((m.n_docs_dup * 1000000) // t.n_docs AS BIGINT)
          AS containment_ppm
      FROM m JOIN tot t ON t.source = m.src_a
      ORDER BY m.src_a, m.src_b""")
    })

  // ---------------------------------------------------------------------
  // Frame-generic stage transforms for the composed curation pipeline
  // (plans.CurationPipeline) — the same semantics as the registered
  // (s, d)-form queries they mirror, over ANY document frame, so the
  // pipeline can chain them stage-output-to-stage-input.
  // ---------------------------------------------------------------------

  /** Verified near-dup pairs (id1 < id2) of a document frame: MinHash
    * band candidates → exact-Jaccard verify (the q59/q64 front half). */
  private[graft] def verifiedPairsFrame(docs: DataFrame, threshold: Double): DataFrame =
    verifiedJaccard(docs, threshold).select(col("id1"), col("id2"))

  /** q64's transitive clusters over a frame: verified pairs → connected
    * components → singleton fill. (doc_id, cluster_id). */
  private[graft] def dupClusterFrame(docs: DataFrame, threshold: Double): DataFrame = {
    val comp = connectedComponents(verifiedPairsFrame(docs, threshold))
      .withColumnRenamed("v", "doc_id")
    docs.select(col("doc_id"))
      .join(comp, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("label"), col("doc_id")).as("cluster_id"))
  }

  /** The ACTUAL substring excision q162 profiles (its doc-comment's
    * "slice-and-rejoin", delivered): rewrite every document to its
    * canonical token form (lowercased, single-spaced) with every
    * keep-first repeated span removed — tokens at positions covered by
    * any [start2, start2+len) interval of [[sharedSpansFrame]] are cut.
    * Docs with no cuts pass through the same canonicalization, so the
    * output text has ONE well-defined form in both engines; a doc whose
    * every token is cut drops out entirely. */
  private[graft] def exciseSpansFrame(docs: DataFrame, n: Int, minLen: Int,
      maxOcc: Int): DataFrame = {
    val cuts = sharedSpansFrame(docs, n, minLen, maxOcc)
      .select(col("d2").as("doc_id"), col("start2").as("lo"),
        (col("start2") + col("span_len") - 1).as("hi"))
    val pos = docs
      .select(col("doc_id"), col("lang"), col("source"),
        posexplode(toks(col("text"))))
      .select(col("doc_id"), col("lang"), col("source"),
        (col("pos") + 1).cast("long").as("pos"), col("col").as("tok"))
    val cutPos = cuts
      .select(col("doc_id"), explode(sequence(col("lo"), col("hi"))).as("pos"))
      .distinct()
    pos.join(cutPos, Seq("doc_id", "pos"), "left_anti")
      .groupBy(col("doc_id"), col("lang"), col("source"))
      .agg(sort_array(collect_list(struct(col("pos"), col("tok")))).as("o"))
      .select(col("doc_id"),
        expr("array_join(transform(o, p -> p.tok), ' ')").as("text"),
        col("lang"), col("source"))
  }

  // ---------------------------------------------------------------------
  // q237: NFC-normalized-key exact dedup (D1 × F ext — q232's kernel
  // doing the job it exists for)
  // ---------------------------------------------------------------------

  /** Exact keyed dedup where the key is md5 over the NFC-NORMALIZED
    * text — the integration q232's kernel exists for: precomposed "é"
    * (U+00E9) and decomposed "e" + COMBINING ACUTE (U+0301) are the same
    * text in different bytes, and a raw-md5 key (q50's family) treats
    * them as distinct documents. The test corpus is ASCII, so the dup
    * structure is CONSTRUCTED deterministically on both sides (the
    * established dup-injection pattern): each document contributes a
    * precomposed variant (e→é, doc_id+1_000_000) and a decomposed one
    * (e→e+U+0301, doc_id+2_000_000). Documents containing 'e' dedup
    * their two variants into one group of 2 (keeper: the precomposed
    * id); documents without 'e' collapse all three copies into one
    * group of 3 (keeper: the original id). A raw-key dedup would report
    * every variant pair as distinct — the silent-corpus-inflation
    * failure NFC closes.
    *
    * Scale shape: identical to q50 — one shuffle on the 128-bit key;
    * the normalization is a codegen'd map with a zero-allocation
    * already-NFC fast path, so an ASCII corpus pays a scan, not an
    * allocation. */
  val q237NfcDedup = GraftQuery(
    "q237_nfc_dedup",
    "D1,D2,F ext: exact dedup keyed on md5(NFC(text))",
    (s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val pre = docs.select((col("doc_id") + 1000000L).as("doc_id"),
        regexp_replace(col("text"), "e", "\u00e9").as("text"))
      val dec = docs.select((col("doc_id") + 2000000L).as("doc_id"),
        regexp_replace(col("text"), "e", "e\u0301").as("text"))
      val corpus = docs.unionByName(pre).unionByName(dec)
      val keyed = corpus.select(col("doc_id"),
        md5(nfcNormalize(col("text"))).as("nfc_key"))
      val w = Window.partitionBy(col("nfc_key"))
      keyed
        .select(col("doc_id"), col("nfc_key"),
          row_number().over(w.orderBy(col("doc_id"))).as("rn"),
          count(lit(1)).over(w).as("group_size"))
        .filter(col("rn") === 1)
        .select(col("doc_id"), col("nfc_key"), col("group_size"))
        .orderBy(col("doc_id"))
    },
    Some("""WITH corpus AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 1000000, replace(text, 'e', chr(233)) FROM documents
        UNION ALL
        SELECT doc_id + 2000000, replace(text, 'e', 'e' || chr(769)) FROM documents),
      keyed AS (
        SELECT doc_id, md5(nfc_normalize(text)) AS nfc_key FROM corpus)
      SELECT doc_id, nfc_key, group_size FROM (
        SELECT doc_id, nfc_key,
          row_number() OVER (PARTITION BY nfc_key ORDER BY doc_id) AS rn,
          count(*) OVER (PARTITION BY nfc_key) AS group_size
        FROM keyed)
      WHERE rn = 1 ORDER BY doc_id"""))

  def queries: Seq[GraftQuery] = Seq(
    q50ExactDedup, q51MinhashLsh, q52SimhashPairs, q53NgramJaccard,
    q54NeardupSurvivors, q55LshSurvivors, q58JaccardDfCut, q59SketchDedup,
    q64DupClusters, q68DupSpans, q69IncrementalDedup, q92FuzzyDedup,
    q109Decontaminate, q129SemDedup, q133DecontaminateBloom, q153StreamedCc,
    q161SharedSpans, q162SubstrDedup, q170PrefixJaccard, q183LeakSafeSplit,
    q217ClusterReps, q219SourceContainment, q237NfcDedup)
}
