package graft.plans

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{GraftQuery, Tables}
import graft.functions.SketchFunctions.md5Long

/** Scale-out building blocks: skew salting and bucketed co-located joins
  * (the reference's only scale lever is a 10k-row batch loop,
  * app/main.py:85-91; these are the cluster-grade equivalents).
  *
  * These exist because the two failure modes that kill 100 TB jobs are
  * (1) one hot key pinning a single reducer and (2) re-shuffling a big
  * table for every join against it. Neither appears at sf0.1, so each is
  * expressed as a verifiable transformation: the salted aggregation must
  * produce bit-identical results to the direct aggregation (oracle
  * checked), and the bucketed join must plan with zero Exchange operators
  * (asserted by BucketingSpec on the physical plan).
  */
object Scale {

  /** Two-phase salted aggregation: groupBy(key, salt) partial -> final
    * re-aggregate by key. sum/count compose exactly; avg is derived
    * sum/count at the end. `salts` bounds the fan-out of phase 1. */
  def saltedAgg(df: DataFrame, key: Column, value: Column, salts: Int): DataFrame = {
    val salted = df
      .select(key.as("k"), value.as("v"),
        (abs(hash(monotonically_increasing_id())) % salts).as("salt"))
      .groupBy(col("k"), col("salt"))
      .agg(count(lit(1)).as("pc"), sum(col("v")).as("ps"))
    salted.groupBy(col("k"))
      .agg(
        sum(col("pc")).as("n"),
        round(sum(col("ps")), 2).as("total"),
        round(sum(col("ps")) / sum(col("pc")), 4).as("mean"))
  }

  /** q82: salted aggregation over lineitem's 3-value l_returnflag (a
    * genuinely hot key: ~200k rows per flag at sf0.1 land on 3 reducers
    * without salting). The oracle is the plain single-phase aggregate —
    * hash equality proves the two-phase rewrite is exact. */
  val q82SaltedAgg = GraftQuery(
    "q82_salted_agg",
    "scale: skew-salted two-phase agg (== plain agg)",
    (s, d) =>
      saltedAgg(Tables.lineitem(s, d), col("l_returnflag"), col("l_quantity"), salts = 16)
        .withColumnRenamed("k", "l_returnflag")
        .orderBy(col("l_returnflag")),
    Some("""SELECT l_returnflag, count(*) AS n,
        round(sum(l_quantity), 2) AS total,
        round(sum(l_quantity) / count(*), 4) AS mean
      FROM lineitem GROUP BY 1 ORDER BY 1"""))

  /** Write both sides bucketed by the join key into the session catalog's
    * warehouse; a subsequent equi-join on that key plans without any
    * Exchange (shuffle) — the pre-partitioned co-located join that a
    * 100 TB pipeline does once at ingest instead of per query. */
  def writeBucketed(df: DataFrame, table: String, key: String, buckets: Int): Unit =
    df.write.mode(SaveMode.Overwrite)
      .bucketBy(buckets, key).sortBy(key)
      .format("parquet").saveAsTable(table)

  /** Hive-style partitioned write: one directory per value of `key`.
    * The partition column never touches file contents, and a reader
    * filtering on it prunes whole directories at PLANNING time
    * (PartitionFilters in the scan, zero row groups read for pruned
    * values) — the coarse data-skipping layer a 100 TB table layers
    * under parquet min/max stats. Partition by low-cardinality columns
    * only (source, lang, date); high-cardinality keys belong in
    * bucketing (writeBucketed) instead, or the file count explodes. */
  def writePartitioned(df: DataFrame, dir: String, key: String): Unit =
    df.write.mode(SaveMode.Overwrite).partitionBy(key).parquet(dir)

  /** The canonical 100 TB corpus layout: Hive-partition by a
    * low-cardinality column (source/lang/date — prunes whole directories
    * at planning time) AND bucket within each partition by the
    * high-cardinality join key (doc_id — co-locates equi-joins, zero
    * Exchange). One write at ingest buys both data skipping and
    * shuffle-free joins for every downstream query; BucketingSpec
    * asserts both properties on one plan. */
  def writePartitionedBucketed(df: DataFrame, table: String,
      partKey: String, bucketKey: String, buckets: Int): Unit =
    df.write.mode(SaveMode.Overwrite)
      .partitionBy(partKey)
      .bucketBy(buckets, bucketKey).sortBy(bucketKey)
      .format("parquet").saveAsTable(table)

  /** Morton (Z-order) value of two columns already scaled to [0, 2^bits):
    * interleave their bits so nearby (a,b) pairs get nearby z-values.
    * Pure built-in bit ops — stays inside whole-stage codegen. */
  def zValue(a: Column, b: Column, bits: Int): Column =
    (0 until bits).foldLeft(lit(0L)) { (acc, i) =>
      acc
        .bitwiseOR(shiftleft(shiftright(a, i).bitwiseAND(lit(1L)), 2 * i))
        .bitwiseOR(shiftleft(shiftright(b, i).bitwiseAND(lit(1L)), 2 * i + 1))
    }

  /** Z-order clustering: range-partition + sort by the interleaved-bit
    * Morton code of two numeric columns, so every output file covers a
    * small RECTANGLE of the (a,b) space instead of a stripe of one
    * column. Parquet min/max footer stats then skip files for filters on
    * EITHER column — linear sort gives that for the leading column only.
    * This is the sort Delta/Iceberg OPTIMIZE ZORDER runs; here it is a
    * plain Spark plan (one extra min/max pass to scale the columns, one
    * range shuffle). Cluster by the two most-filtered dimensions at
    * ingest; ZOrderSpec quantifies the per-file pruning it buys. */
  def clusterZOrder(df: DataFrame, dir: String, colA: String, colB: String,
      files: Int, bits: Int = 16): Unit = {
    val r = df.agg(
      min(col(colA)).cast("double"), max(col(colA)).cast("double"),
      min(col(colB)).cast("double"), max(col(colB)).cast("double")).head
    val (aLo, aHi, bLo, bHi) = (r.getDouble(0), r.getDouble(1),
      r.getDouble(2), r.getDouble(3))
    val span = (1L << bits) - 1
    def scaled(c: String, lo: Double, hi: Double): Column =
      if (hi > lo)
        least(lit(span), floor((col(c).cast("double") - lit(lo)) /
          lit(hi - lo) * lit(span + 1))).cast("long")
      else lit(0L)
    df.withColumn("__z", zValue(scaled(colA, aLo, aHi), scaled(colB, bLo, bHi), bits))
      .repartitionByRange(files, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
      .write.mode(SaveMode.Overwrite).parquet(dir)
  }

  /** Compact a parquet directory to ~targetFileBytes-sized files.
    * Streaming sinks and per-trigger appends (runStreamingIndexAdd,
    * runStreamingTextDedup) leave one small file per micro-batch; at
    * scale that degrades scan task sizing and metadata listing long
    * before it degrades storage. Rewrites via a temp dir + rename swap
    * (atomic on HDFS/posix; on eventual-consistency object stores run it
    * from the table's maintenance job). Returns the output file count. */
  def compact(spark: SparkSession, dir: String,
      targetFileBytes: Long = 128L << 20): Int = {
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bytes = fs.getContentSummary(path).getLength
    val nFiles = math.max(1, math.ceil(bytes.toDouble / targetFileBytes).toInt)
    val tmp = new org.apache.hadoop.fs.Path(dir + "__compact_tmp")
    val old = new org.apache.hadoop.fs.Path(dir + "__compact_old")
    spark.read.parquet(dir).repartition(nFiles)
      .write.mode(SaveMode.Overwrite).parquet(tmp.toString)
    fs.delete(old, true)
    require(fs.rename(path, old) && fs.rename(tmp, path),
      s"compaction swap failed for $dir")
    fs.delete(old, true)
    nFiles
  }

  // per-process id for round-trip temp paths (same rationale as Sources)
  private val runId: String = java.util.UUID.randomUUID().toString.take(8)

  /** q87: lineitem through a Z-order clustered rewrite, then a profile
    * the oracle computes straight from the source parquet — hash equality
    * proves the clustering rewrite is a pure layout change (no rows or
    * values gained/lost/reordered within groups). The skipping payoff of
    * the layout itself is quantified in ZOrderSpec. */
  val q87ZOrderRoundTrip = GraftQuery(
    "q87_zorder_roundtrip",
    "scale: Z-order clustered rewrite (== source data)",
    (s, d) => {
      val tmp = s"${System.getProperty("java.io.tmpdir")}/graft_zorder_$runId"
      val li = Tables.lineitem(s, d).select(
        col("l_orderkey"), col("l_partkey"), col("l_quantity"), col("l_returnflag"))
      clusterZOrder(li, tmp, "l_orderkey", "l_partkey", files = 8)
      s.read.parquet(tmp)
        .groupBy(col("l_returnflag"))
        .agg(
          count(lit(1)).as("n"),
          round(sum(col("l_quantity")), 2).as("total_qty"),
          countDistinct(col("l_partkey")).as("n_parts"))
        .orderBy(col("l_returnflag"))
    },
    Some("""SELECT l_returnflag, count(*) AS n,
        round(sum(l_quantity), 2) AS total_qty,
        CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_parts
      FROM lineitem GROUP BY 1 ORDER BY 1"""))

  /** MERGE/upsert: apply a changeset to a keyed table — updates replace
    * the base row, inserts append, unmatched base rows pass through
    * (the Delta/Iceberg MERGE INTO matched/not-matched semantics as a
    * plain Spark plan). One left-anti join + one union: with the base
    * bucketed by the key (writeBucketed) the anti-join is co-located and
    * shuffle-free on the 100 TB side, and a typical changeset is small
    * enough that Catalyst broadcasts it — the base table is read once and
    * never shuffled. Precondition: one row per key in `changes` (enforce
    * upstream with q50's keep-first dedup). */
  def mergeUpsert(base: DataFrame, changes: DataFrame, key: String): DataFrame =
    base.join(changes.select(col(key)), Seq(key), "left_anti")
      .unionByName(changes)

  /** Shared synthetic changeset for the q95/q100 pair: every 10th doc
    * re-sourced (update) plus every 17th doc re-keyed into the NEGATIVE
    * id space (insert). Negative insert keys (-doc_id - 1) are disjoint
    * from every real doc_id (>= 0) at ANY scale factor — the old
    * doc_id + 1000000 scheme collided with base keys once the table
    * passed 1M rows, silently violating mergeUpsert's one-row-per-key
    * precondition in a way the oracle (replaying the same construction)
    * could not catch. Key uniqueness is property-asserted in
    * OperatorSpec. One definition, used by both queries and (via
    * [[changesetSql]]) both oracles, so the two can't drift. */
  def syntheticChangeset(base: DataFrame): DataFrame = {
    val updates = base.filter(col("doc_id") % 10 === 0)
      .withColumn("source", lit("patched"))
      .withColumn("n_chars", col("n_chars") + 1)
    val inserts = base.filter(col("doc_id") % 17 === 0)
      .select((-col("doc_id") - 1).as("doc_id"), col("lang"),
        lit("inserted").as("source"), col("n_chars"))
    updates.unionByName(inserts)
  }

  /** SQL twin of [[syntheticChangeset]] (expects a `base` CTE in scope),
    * interpolated into the q95/q100 oracles. */
  private val changesetSql: String =
    """changes AS (
        SELECT doc_id, lang, 'patched' AS source, n_chars + 1 AS n_chars
        FROM base WHERE doc_id % 10 = 0
        UNION ALL
        SELECT -doc_id - 1, lang, 'inserted', n_chars
        FROM base WHERE doc_id % 17 = 0)"""

  /** q94-companion correctness query for MERGE: documents patched by a
    * derived changeset ([[syntheticChangeset]]), verified by a
    * post-merge per-source profile. The oracle replays the same
    * anti-join + union in SQL — hash equality proves
    * update-wins/insert/pass-through semantics row-for-row. */
  val q95MergeUpsert = GraftQuery(
    "q95_merge_upsert",
    "scale: keyed MERGE/upsert (anti-join + union)",
    (s, d) => {
      val base = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      mergeUpsert(base, syntheticChangeset(base), "doc_id")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sum_chars"),
          min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"))
        .orderBy(col("source"))
    },
    Some(s"""WITH base AS (
        SELECT doc_id, lang, source, n_chars FROM documents),
      $changesetSql,
      merged AS (
        SELECT * FROM base WHERE doc_id NOT IN (SELECT doc_id FROM changes)
        UNION ALL SELECT * FROM changes)
      SELECT source, count(*) AS n,
        CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        min(doc_id) AS min_id, max(doc_id) AS max_id
      FROM merged GROUP BY source ORDER BY source"""))

  /** CDC table diff: keyed comparison of two table versions into
    * (key, status ∈ added|removed|changed) — unchanged rows are dropped,
    * so the output scales with the churn, not the table. One full-outer
    * join on the key: with both versions bucketed by it (writeBucketed)
    * the join is co-located and zero-Exchange — at 100 TB the diff reads
    * both versions once and shuffles nothing. Pairs with mergeUpsert:
    * diff(old, merge(old, changes)) recovers exactly the effective
    * changeset (asserted in OperatorSpec). */
  def tableDiff(oldV: DataFrame, newV: DataFrame, key: String,
      compareCols: Seq[String]): DataFrame = {
    def tagged(df: DataFrame, side: String) =
      df.select(col(key).as(s"${side}_key") +:
        compareCols.map(c => col(c).as(s"${side}_$c")): _*)
    val o = tagged(oldV, "o")
    val n = tagged(newV, "n")
    val changed = compareCols
      .map(c => !(col(s"o_$c") <=> col(s"n_$c")))
      .reduce(_ || _)
    o.join(n, col("o_key") === col("n_key"), "full_outer")
      .withColumn("status",
        when(col("o_key").isNull, "added")
          .when(col("n_key").isNull, "removed")
          .when(changed, "changed"))
      .filter(col("status").isNotNull)
      .select(coalesce(col("o_key"), col("n_key")).as(key), col("status"))
  }

  /** q100: diff documents against their q95-merged version — the
    * update/insert/delete churn report. Deletions are simulated by
    * dropping every 13th doc from the new version so all three statuses
    * appear; the oracle replays the same diff in SQL. */
  val q100TableDiff = GraftQuery(
    "q100_table_diff",
    "scale: CDC table diff (churn-bounded output)",
    (s, d) => {
      val base = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      val newV = mergeUpsert(base, syntheticChangeset(base), "doc_id")
        .filter(col("doc_id") % 13 =!= 0)
      tableDiff(base, newV, "doc_id", Seq("lang", "source", "n_chars"))
        .orderBy(col("doc_id"), col("status"))
    },
    Some(s"""WITH base AS (
        SELECT doc_id, lang, source, n_chars FROM documents),
      $changesetSql,
      newv AS (
        SELECT * FROM (
          SELECT * FROM base WHERE doc_id NOT IN (SELECT doc_id FROM changes)
          UNION ALL SELECT * FROM changes)
        WHERE doc_id % 13 <> 0)
      SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
        CASE WHEN o.doc_id IS NULL THEN 'added'
             WHEN n.doc_id IS NULL THEN 'removed'
             WHEN o.lang IS DISTINCT FROM n.lang
               OR o.source IS DISTINCT FROM n.source
               OR o.n_chars IS DISTINCT FROM n.n_chars THEN 'changed'
        END AS status
      FROM base o FULL OUTER JOIN newv n ON o.doc_id = n.doc_id
      WHERE CASE WHEN o.doc_id IS NULL THEN 'added'
             WHEN n.doc_id IS NULL THEN 'removed'
             WHEN o.lang IS DISTINCT FROM n.lang
               OR o.source IS DISTINCT FROM n.source
               OR o.n_chars IS DISTINCT FROM n.n_chars THEN 'changed'
        END IS NOT NULL
      ORDER BY doc_id, status"""))

  /** Partial-aggregate state over (count, sum, min, max) — the mergeable
    * shape behind incremental/materialized-view maintenance: aggregate
    * each new delta batch alone, merge it into the running state, and the
    * merged state equals a full recompute (associativity property-tested
    * in OperatorSpec, cross-engine in q107). At 100 TB this is the
    * difference between rescanning history on every refresh and scanning
    * only the day's delta; avg/derived metrics come off the state at read
    * time (sum/cnt), never stored (a stored avg doesn't merge). */
  def aggState(df: DataFrame, key: String, valueCol: String): DataFrame =
    df.groupBy(col(key))
      .agg(count(lit(1)).as("cnt"), sum(col(valueCol)).as("sum_v"),
        min(col(valueCol)).as("min_v"), max(col(valueCol)).as("max_v"))

  /** Merge two aggregate states (same schema as [[aggState]]'s output).
    * count/sum re-sum; min/max re-min/max — all partial-aggregatable, so
    * the merge is itself one small shuffle bounded by distinct keys. */
  def mergeAggStates(a: DataFrame, b: DataFrame, key: String): DataFrame =
    a.unionByName(b)
      .groupBy(col(key))
      .agg(sum(col("cnt")).as("cnt"), sum(col("sum_v")).as("sum_v"),
        min(col("min_v")).as("min_v"), max(col("max_v")).as("max_v"))

  /** q107: incremental aggregate maintenance — lineitem split at a
    * shipdate cutoff into history and delta, aggregated separately and
    * state-merged; the oracle recomputes in one pass over everything, so
    * the hash match IS the proof that merge(agg(hist), agg(delta)) ==
    * agg(hist ∪ delta) cross-engine. */
  val q107IncrementalAgg = GraftQuery(
    "q107_incremental_agg",
    "scale: incremental agg maintenance (partial-state merge)",
    (s, d) => {
      val li = Tables.lineitem(s, d)
      val cutoff = "1997-01-01"
      val hist = aggState(li.filter(col("l_shipdate") < lit(cutoff)),
        "l_returnflag", "l_quantity")
      val delta = aggState(li.filter(col("l_shipdate") >= lit(cutoff)),
        "l_returnflag", "l_quantity")
      mergeAggStates(hist, delta, "l_returnflag")
        .select(col("l_returnflag"), col("cnt"),
          round(col("sum_v"), 2).as("sum_qty"),
          col("min_v").as("min_qty"), col("max_v").as("max_qty"),
          round(col("sum_v") / col("cnt"), 4).as("avg_qty"))
        .orderBy(col("l_returnflag"))
    },
    Some("""SELECT l_returnflag, count(*) AS cnt,
        round(sum(l_quantity), 2) AS sum_qty,
        min(l_quantity) AS min_qty, max(l_quantity) AS max_qty,
        round(sum(l_quantity) / count(*), 4) AS avg_qty
      FROM lineitem GROUP BY 1 ORDER BY 1"""))

  /** q108: salted skew equi-join — the join-side twin of q82's salted
    * aggregation. Skew is synthesized (half of lineitem collapses onto
    * orderkey 1 — one reducer would take half the table); mitigation is
    * the standard replicate-and-salt: the small side is exploded into R
    * salt replicas, the fact side picks a deterministic salt in [0, R),
    * and the equi-join on (key, salt) spreads the hot key over R tasks.
    * Salting must not change results, and that is exactly what the
    * oracle checks: it runs the UNSALTED join. The salt fan-out is
    * `spark.graft.join.salts` (GraftConfSpec proves the knob moves the
    * plan); in production salt only keys flagged hot by a count sketch.
    * When to prefer which: AQE skew-split (PlanSpec pins it splitting
    * this same hot key with `skew=true`) wins whenever the plan is a
    * plain post-shuffle sort-merge join — zero code change, reacts to
    * the skew actually observed at runtime; explicit salting is for the
    * shapes AQE can't reach — broadcast-ineligible hot build sides,
    * skewed AGGREGATIONS (q82's two-phase rewrite), or a fan-out that
    * must survive re-planning (BucketingSpec's LSH case). */
  val q108SaltedJoin = GraftQuery(
    "q108_salted_join",
    "scale: salted skew equi-join (hot-key mitigation)",
    (s, d) => {
      val r = graft.GraftConf.joinSalts(s)
      val skewKey = when(pmod(col("l_orderkey"), lit(2)) === 0, lit(1L))
        .otherwise(col("l_orderkey"))
      val fact = Tables.lineitem(s, d)
        .select(skewKey.as("k"), col("l_quantity"),
          pmod(hash(col("l_linenumber"), col("l_partkey")), lit(r)).as("salt"))
      val dim = Tables.orders(s, d)
        .select(col("o_orderkey").as("k"), col("o_orderpriority"))
        .withColumn("salt", explode(sequence(lit(0), lit(r - 1))))
      fact.join(dim, Seq("k", "salt"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), round(sum(col("l_quantity")), 2).as("qty"))
        .orderBy(col("o_orderpriority"))
    },
    Some("""SELECT o_orderpriority, count(*) AS n,
        round(sum(l_quantity), 2) AS qty
      FROM (SELECT CASE WHEN l_orderkey % 2 = 0 THEN 1
                        ELSE l_orderkey END AS k, l_quantity
            FROM lineitem) f
      JOIN orders o ON f.k = o.o_orderkey
      GROUP BY 1 ORDER BY 1"""))

  /** The encode → bucket → join composition behind q124, exposed without
    * the final output sort so BucketingSpec can assert the shuffle story
    * on exactly the plan the query runs. This is q120's dictionary
    * encoding made to PAY: the string key is translated to a dense long
    * code via the broadcast vocabulary, the encoded fact is written ONCE
    * bucketed by the code (the per-ingest shuffle a 100 TB pipeline
    * amortizes over every downstream query), and then BOTH the per-code
    * aggregate and the fact⋈aggregate join run with ZERO Exchange — the
    * shuffle that remains moves 8-byte codes, never the original
    * strings, and the strings only reappear through the broadcast
    * decode at the very end. */
  def dictEncodedJoin(s: SparkSession, d: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("source"))
    val vocab = Tables.documents(s, d).select(col("source")).distinct()
      .withColumn("code", dense_rank().over(w).cast("long"))
    val enc = Tables.documents(s, d)
      .join(broadcast(vocab), Seq("source"))
      .select(col("code"), col("doc_id"), col("n_chars"))
    s.sql("DROP TABLE IF EXISTS graft_docs_by_code")
    // the catalog is in-memory per session but the managed location is
    // not: a previous JVM's table dir makes saveAsTable refuse even
    // after the DROP above — clear the leftover location too
    val loc = new org.apache.hadoop.fs.Path(
      s.conf.get("spark.sql.warehouse.dir"), "graft_docs_by_code")
    val fs = loc.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(loc)) fs.delete(loc, true)
    writeBucketed(enc, "graft_docs_by_code", "code", buckets = 8)
    val fact = s.table("graft_docs_by_code")
    val agg = fact.groupBy(col("code"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).cast("long").as("chars_total"))
    fact.join(agg, Seq("code"))
      .join(broadcast(vocab), Seq("code"))
      .select(col("doc_id"), col("source"), col("n_docs"),
        round(col("n_chars").cast("double") / col("chars_total"), 6).as("share"))
  }

  /** q124: end-to-end dictionary-encoded co-bucketed join — each doc's
    * share of its source's total chars, computed entirely on the dense
    * code ([[dictEncodedJoin]]). The oracle rebuilds the dictionary
    * independently and joins on it in SQL; hash equality proves the
    * encode → shuffle-free agg+join → decode pipeline is semantically
    * invisible. BucketingSpec pins the zero-Exchange plan. */
  val q124DictJoin = GraftQuery(
    "q124_dict_bucketed_join",
    "scale/LLM-pipeline: dict-encoded co-bucketed join (zero-Exchange)",
    (s, d) => dictEncodedJoin(s, d).orderBy(col("doc_id")),
    Some("""WITH vocab AS (
        SELECT source, CAST(dense_rank() OVER (ORDER BY source) AS BIGINT) AS code
        FROM (SELECT DISTINCT source FROM documents)),
      enc AS (
        SELECT v.code, d.doc_id, d.n_chars
        FROM documents d JOIN vocab v USING (source)),
      agg AS (
        SELECT code, count(*) AS n_docs,
          CAST(sum(n_chars) AS BIGINT) AS chars_total
        FROM enc GROUP BY 1)
      SELECT e.doc_id, v.source, a.n_docs,
        round(CAST(e.n_chars AS DOUBLE) / a.chars_total, 6) AS share
      FROM enc e JOIN agg a ON e.code = a.code
      JOIN vocab v ON e.code = v.code
      ORDER BY e.doc_id"""))

  /** q112: cascade delete (right-to-be-forgotten) — a deletion-request
    * list purged from every dependent table by broadcast anti-join, with
    * a per-table audit of (requested, deleted, kept). The request list is
    * small by nature, so each purge is one scan of the big table with the
    * delete set riding along in the task (zero shuffle of the 100 TB
    * side); the derived artifacts (embeddings here; ANN index tables in
    * JobPipeline) are purged by the same keys — M5's index-delete
    * semantics (Pipeline.invalidate) extended to the whole lineage. The
    * audit makes the purge verifiable: deleted + kept == total row count
    * per table, and the oracle recomputes all three independently. */
  val q112CascadeDelete = GraftQuery(
    "q112_cascade_delete",
    "scale/governance: cascade delete with per-table audit",
    (s, d) => {
      val requests = Tables.documents(s, d)
        .select(col("doc_id")).filter(col("doc_id") % 23 === 0)
      def audit(tbl: String, df: DataFrame, key: String): DataFrame = {
        val keyed = df.select(col(key).as("k"))
        val kept = keyed.join(
          broadcast(requests.select(col("doc_id").as("k"))), Seq("k"),
          "left_anti")
        keyed.agg(count(lit(1)).as("total"))
          .crossJoin(kept.agg(count(lit(1)).as("n_kept")))
          .select(lit(tbl).as("tbl"),
            (col("total") - col("n_kept")).cast("long").as("n_deleted"),
            col("n_kept").cast("long").as("n_kept"))
      }
      audit("documents", Tables.documents(s, d), "doc_id")
        .unionByName(audit("embeddings", Tables.embeddings(s, d), "vec_id"))
        .orderBy(col("tbl"))
    },
    Some("""WITH req AS (SELECT doc_id FROM documents WHERE doc_id % 23 = 0)
      SELECT 'documents' AS tbl,
        CAST(count(CASE WHEN doc_id IN (SELECT doc_id FROM req) THEN 1 END) AS BIGINT) AS n_deleted,
        CAST(count(CASE WHEN doc_id NOT IN (SELECT doc_id FROM req) THEN 1 END) AS BIGINT) AS n_kept
      FROM documents
      UNION ALL
      SELECT 'embeddings',
        CAST(count(CASE WHEN vec_id IN (SELECT doc_id FROM req) THEN 1 END) AS BIGINT),
        CAST(count(CASE WHEN vec_id NOT IN (SELECT doc_id FROM req) THEN 1 END) AS BIGINT)
      FROM embeddings
      ORDER BY tbl"""))

  /** Order-insensitive table fingerprint: md5 each row's key columns,
    * take the 60-bit prefix, BIT_XOR-aggregate — one partial-
    * aggregatable pass, no sort, no single reducer, and xor can never
    * overflow at any row count (a SUM of 60-bit prefixes blows past
    * BIGINT within a handful of rows under ANSI mode). Equal
    * fingerprints + equal counts make "did the migration/merge/
    * compaction preserve the data?" a two-scan question at any size
    * (the check to run after q95 merges, q87 rewrites, or an engine
    * swap — which is exactly what the DuckDB oracle simulates). Xor is
    * commutative/associative so partition, file, and engine iteration
    * order all cancel out. Caveat: identical duplicate ROWS cancel in
    * pairs under xor — always include a unique key in `cols` (doc_id
    * here), which also makes the count check subsume the dup case. */
  def fingerprint(df: DataFrame, cols: Seq[String]): DataFrame = {
    // the \u0001 separator prevents ("ab","c") == ("a","bc") splices and
    // is replayed as chr(1) by the DuckDB oracle
    // NULLs are coalesced to a \u0002 marker BEFORE concat_ws: concat_ws
    // silently SKIPS null columns, which would make ('x', NULL, 'y') and
    // ('x', 'y', NULL) fingerprint-equal and diverge from any || -based
    // oracle (replay the marker as coalesce(col, chr(2)) there)
    val rowKey = md5Long(concat_ws("\u0001",
      cols.map(c => coalesce(col(c).cast("string"), lit("\u0002"))): _*), 15)
    df.select(rowKey.as("rk"))
      .agg(count(lit(1)).as("n_rows"), expr("bit_xor(rk)").as("fp"))
  }

  /** q117: fingerprints of documents before and after a q95-style merge
    * that only touches a disjoint id range — the untouched-range
    * fingerprint must survive the merge (and does: the oracle recomputes
    * both sides independently). */
  val q117Fingerprint = GraftQuery(
    "q117_table_fingerprint",
    "scale: order-insensitive table fingerprint (migration check)",
    (s, d) => {
      val cols = Seq("doc_id", "lang", "source", "n_chars")
      val base = Tables.documents(s, d)
        .select(cols.map(col): _*)
      val changes = base.filter(col("doc_id") % 10 === 0)
        .withColumn("source", lit("patched"))
      val merged = mergeUpsert(base, changes, "doc_id")
      def tag(name: String, df: DataFrame) =
        fingerprint(df, cols).select(lit(name).as("scope"),
          col("n_rows"), col("fp"))
      tag("base_all", base)
        .unionByName(tag("merged_all", merged))
        .unionByName(tag("base_untouched", base.filter(col("doc_id") % 10 =!= 0)))
        .unionByName(tag("merged_untouched", merged.filter(col("doc_id") % 10 =!= 0)))
        .orderBy(col("scope"))
    },
    Some("""WITH base AS (
        SELECT doc_id, lang, source, n_chars FROM documents),
      merged AS (
        SELECT doc_id, lang,
          CASE WHEN doc_id % 10 = 0 THEN 'patched' ELSE source END AS source,
          n_chars
        FROM base),
      fp AS (
        SELECT 'base_all' AS scope, count(*) AS n_rows,
          CAST(bit_xor(('0x' || substr(md5(
            CAST(doc_id AS VARCHAR) || chr(1) || lang || chr(1) || source
              || chr(1) || CAST(n_chars AS VARCHAR)), 1, 15))::BIGINT) AS BIGINT) AS fp
        FROM base
        UNION ALL
        SELECT 'merged_all', count(*),
          CAST(bit_xor(('0x' || substr(md5(
            CAST(doc_id AS VARCHAR) || chr(1) || lang || chr(1) || source
              || chr(1) || CAST(n_chars AS VARCHAR)), 1, 15))::BIGINT) AS BIGINT)
        FROM merged
        UNION ALL
        SELECT 'base_untouched', count(*),
          CAST(bit_xor(('0x' || substr(md5(
            CAST(doc_id AS VARCHAR) || chr(1) || lang || chr(1) || source
              || chr(1) || CAST(n_chars AS VARCHAR)), 1, 15))::BIGINT) AS BIGINT)
        FROM base WHERE doc_id % 10 <> 0
        UNION ALL
        SELECT 'merged_untouched', count(*),
          CAST(bit_xor(('0x' || substr(md5(
            CAST(doc_id AS VARCHAR) || chr(1) || lang || chr(1) || source
              || chr(1) || CAST(n_chars AS VARCHAR)), 1, 15))::BIGINT) AS BIGINT)
        FROM merged WHERE doc_id % 10 <> 0)
      SELECT scope, n_rows, fp FROM fp ORDER BY scope"""))

  /** q118: join-key skew report — the diagnostic run BEFORE choosing
    * q108's salts or trusting AQE: per-key frequency profile of a join
    * key (same synthesized hot key as q108), reporting each of the top
    * keys with its share, plus the max/mean skew ratio every key-based
    * operator's worst reducer is proportional to. One hash agg + a tiny
    * top-k — at 100 TB run it on a q13-style systematic sample first. */
  val q118SkewReport = GraftQuery(
    "q118_skew_report",
    "scale: join-key skew diagnostic (pre-salting report)",
    (s, d) => {
      val skewKey = when(pmod(col("l_orderkey"), lit(2)) === 0, lit(1L))
        .otherwise(col("l_orderkey"))
      val freq = Tables.lineitem(s, d)
        .select(skewKey.as("k"))
        .groupBy(col("k")).agg(count(lit(1)).as("cnt"))
      val totals = freq.agg(
        sum(col("cnt")).as("total"),
        count(lit(1)).as("n_keys"),
        max(col("cnt")).as("max_cnt"))
      freq.crossJoin(broadcast(totals))
        .withColumn("share", round(col("cnt") / col("total"), 4))
        .withColumn("skew_ratio", // cast BEFORE the multiply: long*long
          // wraps silently at the 10^10-row scale this diagnoses
          round(col("max_cnt").cast("double") * col("n_keys") / col("total"), 2))
        .filter(col("cnt") >= col("total") / 20) // keys holding >= 5%
        .select(col("k"), col("cnt"), col("share"), col("skew_ratio"))
        .orderBy(col("cnt").desc, col("k"))
    },
    Some("""WITH freq AS (
        SELECT CASE WHEN l_orderkey % 2 = 0 THEN 1 ELSE l_orderkey END AS k,
          count(*) AS cnt
        FROM lineitem GROUP BY 1),
      t AS (SELECT CAST(sum(cnt) AS BIGINT) AS total,
              count(*) AS n_keys, max(cnt) AS max_cnt FROM freq)
      SELECT k, cnt, round(cnt / CAST(total AS DOUBLE), 4) AS share,
        round(CAST(max_cnt AS DOUBLE) * n_keys / total, 2) AS skew_ratio
      FROM freq, t WHERE cnt >= total / 20.0
      ORDER BY cnt DESC, k"""))

  private val compactRunId: String = java.util.UUID.randomUUID().toString.take(8)

  /** q130: the [[compact]] maintenance rewrite as a registered query
    * with a content-identity proof in the driver's correctness gate
    * (BucketingSpec already pins the structural side: file-count
    * collapse, rename-swap atomicity, data set equality). The fixture
    * writes `documents` as 64 deliberately tiny parquet files — the
    * streaming-sink / over-parallel-writer fragmentation pathology —
    * compaction rewrites them in place at a quarter-of-total target
    * size (~4 files), and the query returns per-lang counts +
    * q117-convention fingerprints read FROM THE COMPACTED FILES. The
    * oracle recomputes the same aggregates from the original table, so
    * a hash match proves the rewrite lost and invented nothing. */
  val q130Compaction = GraftQuery(
    "q130_compaction",
    "scale: small-file compaction rewrite with fingerprint identity proof",
    (s, d) => {
      val key = java.lang.Integer.toHexString(d.hashCode)
      val dir =
        s"${System.getProperty("java.io.tmpdir")}/graft_compactq_${compactRunId}_$key"
      if (!new java.io.File(dir, "_SUCCESS").exists()) {
        Tables.documents(s, d)
          .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
          .repartition(64)
          .write.mode(SaveMode.Overwrite).parquet(dir)
      }
      val bytes = {
        val p = new org.apache.hadoop.fs.Path(dir)
        p.getFileSystem(s.sparkContext.hadoopConfiguration)
          .getContentSummary(p).getLength
      }
      compact(s, dir, targetFileBytes = math.max(1L, bytes / 4))
      val rowKey = md5Long(concat_ws("\u0001",
        Seq("doc_id", "lang", "source", "n_chars")
          .map(c => coalesce(col(c).cast("string"), lit("\u0002"))): _*), 15)
      s.read.parquet(dir)
        .select(col("lang"), rowKey.as("rk"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_rows"), expr("bit_xor(rk)").as("fp"))
        .orderBy(col("lang"))
    },
    Some("""SELECT lang, count(*) AS n_rows,
        CAST(bit_xor(('0x' || substr(md5(
          coalesce(CAST(doc_id AS VARCHAR), chr(2)) || chr(1)
            || coalesce(lang, chr(2)) || chr(1)
            || coalesce(source, chr(2)) || chr(1)
            || coalesce(CAST(n_chars AS VARCHAR), chr(2))), 1, 15))::BIGINT) AS BIGINT) AS fp
      FROM documents GROUP BY lang ORDER BY lang"""))


  /** q138: incremental view maintenance for a JOIN view — the delta
    * algebra Δ(O⋈L) = ΔO⋈L ∪ O_old⋈ΔL (the ΔO⋈ΔL cross term rides
    * inside the first leg because it joins the FULL L), aggregated and
    * merged into the stale aggregate exactly like q107 merges agg
    * states. The view is count + sum(l_quantity) on purpose: the
    * quantities are integral, every partial sum is EXACT, so merge
    * order cannot drift the hash. The refresh never recomputes the
    * base-side join: both maintenance legs broadcast their (small)
    * delta side, so a refresh at 100 TB reads the base tables once
    * with zero base-side shuffle — cost scales with |Δ|, not |view|.
    * The oracle recomputes the view from the FULL tables; hash
    * equality is the algebraic proof V_old ⊕ ΔV = V(full). */
  val q138IvmJoin = GraftQuery(
    "q138_ivm_join",
    "scale: incremental join-view maintenance (delta algebra + merge)",
    (s, d) => {
      val o = Tables.orders(s, d).select(col("o_orderkey"), col("o_orderpriority"))
      val l = Tables.lineitem(s, d).select(col("l_orderkey"), col("l_quantity"))
      val keyEq = col("o_orderkey") === col("l_orderkey")
      val oldO = o.filter(col("o_orderkey") % 10 =!= 0)
      val dO = o.filter(col("o_orderkey") % 10 === 0)
      val oldL = l.filter(col("l_orderkey") % 7 =!= 0)
      val dL = l.filter(col("l_orderkey") % 7 === 0)
      def view(j: DataFrame) = j.groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), sum(col("l_quantity")).as("qty"))
      val vOld = view(oldO.join(oldL, keyEq))
      val dV = view(
        broadcast(dO).join(l, keyEq)
          .unionByName(oldO.join(broadcast(dL), keyEq)))
      vOld.unionByName(dV)
        .groupBy(col("o_orderpriority"))
        .agg(sum(col("n")).as("n"), round(sum(col("qty")), 2).as("qty"))
        .orderBy(col("o_orderpriority"))
    },
    Some("""SELECT o_orderpriority, count(*) AS n,
        round(sum(l_quantity), 2) AS qty
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      GROUP BY 1 ORDER BY 1"""))

  /** q144: 2-D skyline (Pareto frontier: min price, max quantity) via
    * distributed prefix-max — the pattern for ANY "cumulative over a
    * global order" computation at 100 TB, where the naive plan (one
    * window over ORDER BY without PARTITION BY) collapses the whole
    * table into a single task. Decomposition: (1) range-bucket the
    * order key (fixed 256 bins from min/max — internal only, never
    * visible in the result); (2) per-bucket maxima → a ≤256-row
    * relation whose exclusive prefix-max (the only global window,
    * over 256 rows) is each bucket's carry-in; (3) broadcast-join the
    * carry-in back and finish with PER-BUCKET windows — every
    * fact-side window is partitioned, so the deepest sort is one
    * bucket wide. A row survives iff its qty beats every strictly
    * cheaper row's qty (carry-in ⊔ within-bucket running max — same
    * price excluded via a RANGE frame on exact integer cents) and ties
    * at its own price don't beat it. The oracle states the SAME
    * semantics as ONE global window: hash equality proves the bucketed
    * decomposition, not just the answer. ExtOpsSpec adds the O(n²)
    * NOT-EXISTS brute force as the independent semantic gate. */
  val q144Skyline = GraftQuery(
    "q144_skyline",
    "scale: Pareto frontier via bucketed two-phase prefix-max",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val r = Tables.lineitem(s, d).select(
        round(col("l_extendedprice") * 100).cast("long").as("price_cents"),
        col("l_quantity").cast("long").as("qty"))
      val bounds = r.agg(min(col("price_cents")).as("lo"),
        max(col("price_cents")).as("hi"))
      val bins = graft.GraftConf.selectionBins(s).toLong
      val binned = r.crossJoin(broadcast(bounds))
        .withColumn("bin",
          ((col("price_cents") - col("lo")) * lit(bins)
            / (col("hi") - col("lo") + 1)).cast("long"))
      val carry = binned.groupBy(col("bin")).agg(max(col("qty")).as("bmax"))
        .withColumn("carry", max(col("bmax")).over(
          Window.orderBy(col("bin")).rowsBetween(Window.unboundedPreceding, -1)))
        .select(col("bin"), col("carry"))
      val byPrice = Window.partitionBy(col("bin")).orderBy(col("price_cents"))
        .rangeBetween(Window.unboundedPreceding, -1)
      val samePrice = Window.partitionBy(col("bin"), col("price_cents"))
      val scored = binned.join(broadcast(carry), Seq("bin"))
        .withColumn("within", max(col("qty")).over(byPrice))
        .withColumn("samemax", max(col("qty")).over(samePrice))
        .withColumn("prevmax", greatest(col("carry"), col("within")))
      scored
        .filter((col("prevmax").isNull || col("qty") > col("prevmax")) &&
          col("qty") === col("samemax"))
        .groupBy(col("price_cents"), col("qty"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("price_cents"))
    },
    Some("""WITH r AS (
        SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS price_cents,
          CAST(l_quantity AS BIGINT) AS qty
        FROM lineitem),
      w AS (
        SELECT price_cents, qty,
          max(qty) OVER (ORDER BY price_cents
            RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prevmax,
          max(qty) OVER (PARTITION BY price_cents) AS samemax
        FROM r)
      SELECT price_cents, qty, count(*) AS n
      FROM w
      WHERE (prevmax IS NULL OR qty > prevmax) AND qty = samemax
      GROUP BY 1, 2 ORDER BY 1"""))

  /** q145: EXACT order statistics without a global sort — distributed
    * selection, the exact complement to q103's approximate percentiles
    * (error-bounded sketch) and q77's equi-depth bins. The naive exact
    * plan sorts the table (or routes every row through one percentile
    * aggregate); the selection plan is two bounded passes: (1) bin the
    * key into 256 min/max ranges and count per bin — a 256-row
    * relation whose prefix-sum (window over 256 rows) locates, for
    * each requested rank k = ceil(p·n), its target bin and residual
    * rank; (2) rank rows WITHIN target bins only (window partitioned
    * by bin — the sort is one bin wide, ~n/256 rows) and keep the
    * residual-th. Ties are harmless: the value at global rank k is
    * unique regardless of tie permutation, because the within-bin
    * order key is the VALUE itself. The oracle states the same ranks
    * with one global row_number — hash equality proves the
    * decomposition, exactly like q144. */
  val q145OrderStats = GraftQuery(
    "q145_order_statistics",
    "scale: exact quantiles via two-pass distributed selection",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      import s.implicits._
      val r = Tables.lineitem(s, d).select(
        round(col("l_extendedprice") * 100).cast("long").as("v"))
      val bounds = r.agg(min(col("v")).as("lo"), max(col("v")).as("hi"),
        count(lit(1)).as("n"))
      val bins = graft.GraftConf.selectionBins(s).toLong
      val binned = r.crossJoin(broadcast(bounds))
        .withColumn("bin",
          ((col("v") - col("lo")) * lit(bins)
            / (col("hi") - col("lo") + 1)).cast("long"))
      val binCounts = binned.groupBy(col("bin")).agg(count(lit(1)).as("c"))
        .withColumn("cum_prev", coalesce(sum(col("c")).over(
          Window.orderBy(col("bin")).rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
      val ranks = Seq(0.25, 0.5, 0.75, 0.99).toDF("p")
        .crossJoin(broadcast(bounds.select(col("n"))))
        .withColumn("k", ceil(col("p") * col("n")).cast("long"))
      // locate each rank's bin: cum_prev < k <= cum_prev + c (256×4 join)
      val located = ranks.join(broadcast(binCounts),
          col("cum_prev") < col("k") && col("k") <= col("cum_prev") + col("c"))
        .select(col("p"), col("k"), col("bin"),
          (col("k") - col("cum_prev")).as("residual"))
      val withinBin = Window.partitionBy(col("bin")).orderBy(col("v"))
      binned.join(broadcast(located.select(col("bin")).distinct()), Seq("bin"))
        .withColumn("rn", row_number().over(withinBin))
        .join(broadcast(located), Seq("bin"))
        .filter(col("rn") === col("residual"))
        .select(col("p"), col("k"), col("v").as("value_cents"))
        .orderBy(col("p"))
    },
    Some("""WITH r AS (
        SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS v
        FROM lineitem),
      o AS (SELECT v, row_number() OVER (ORDER BY v) AS rn FROM r),
      n AS (SELECT count(*) AS n FROM r),
      ranks AS (
        -- p forced to DOUBLE so ceil sees the identical IEEE product in
        -- both engines (DuckDB's VALUES literal is DECIMAL, whose exact
        -- p*n can ceil differently from the double product at integers)
        SELECT CAST(p AS DOUBLE) AS p,
          CAST(ceil(CAST(p AS DOUBLE) * (SELECT n FROM n)) AS BIGINT) AS k
        FROM (VALUES (0.25), (0.5), (0.75), (0.99)) t(p))
      SELECT p, k, v AS value_cents
      FROM ranks JOIN o ON o.rn = ranks.k
      ORDER BY p"""))

  /** q158: PER-GROUP exact order statistics — q145's two-pass
    * distributed selection generalized so every step is group-local:
    * per-group min/max/count bounds (one broadcast-sized relation), a
    * per-(group, bin) count histogram whose prefix-sum window partitions
    * BY GROUP (≤ bins rows per partition — never a single global
    * reducer), rank location per group, and a within-(group, bin)
    * ranking of target-bin rows only. The per-group exact p50/p90 a
    * corpus dashboard wants (Spark's native `percentile` buffers every
    * group value in executor memory; this sorts ~n/(groups·bins) rows
    * per target bin), with the same tie argument as q145: the value at
    * group-rank k is unique under tie permutation because the within-bin
    * order key IS the value. Oracle states the same ranks with one
    * per-group row_number — hash equality proves the decomposition. */
  /** Per-group exact rank selection — the reusable core of q158 (and
    * q165's robust statistics): input r(group, v: long), output
    * (group, p, k, value) where value is the EXACT element at
    * group-rank k = ceil(p·n_group). Two bounded passes, every step
    * group-local (docstring on q158 below); no full-group sort, no
    * per-group value buffering. */
  def groupExactRank(s: SparkSession, r0: DataFrame, groupCol: String,
      ps: Seq[Double]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import s.implicits._
    val g = col(groupCol)
    val r = r0.select(g, col("v"))
    val bounds = r.groupBy(g).agg(min(col("v")).as("lo"),
      max(col("v")).as("hi"), count(lit(1)).as("n"))
    val bins = graft.GraftConf.selectionBins(s).toLong
    val binned = r.join(broadcast(bounds), Seq(groupCol))
      .withColumn("bin",
        ((col("v") - col("lo")) * lit(bins)
          / (col("hi") - col("lo") + 1)).cast("long"))
      .select(g, col("v"), col("bin"))
    val binCounts = binned.groupBy(g, col("bin"))
      .agg(count(lit(1)).as("c"))
      .withColumn("cum_prev", coalesce(sum(col("c")).over(
        Window.partitionBy(g).orderBy(col("bin"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    val ranks = ps.toDF("p")
      .crossJoin(broadcast(bounds.select(g, col("n"))))
      .withColumn("k", ceil(col("p") * col("n")).cast("long"))
      .select(g, col("p"), col("k"))
    val located = ranks.join(broadcast(binCounts
        .select(g.as("bl"), col("bin"), col("c"), col("cum_prev"))),
        g === col("bl") &&
          col("cum_prev") < col("k") && col("k") <= col("cum_prev") + col("c"))
      .select(g, col("p"), col("k"), col("bin"),
        (col("k") - col("cum_prev")).as("residual"))
    val withinBin = Window.partitionBy(g, col("bin")).orderBy(col("v"))
    binned.join(broadcast(located.select(g, col("bin")).distinct()),
        Seq(groupCol, "bin"))
      .withColumn("rn", row_number().over(withinBin))
      .join(broadcast(located), Seq(groupCol, "bin"))
      .filter(col("rn") === col("residual"))
      .select(g, col("p"), col("k"), col("v").as("value"))
  }

  val q158GroupOrderStats = GraftQuery(
    "q158_group_order_statistics",
    "scale: per-group exact quantiles via two-pass distributed selection",
    (s, d) => {
      val r = Tables.documents(s, d)
        .select(col("lang"), col("n_chars").cast("long").as("v"))
      groupExactRank(s, r, "lang", Seq(0.5, 0.9))
        .orderBy(col("lang"), col("p"))
    },
    Some("""WITH r AS (
        SELECT lang, CAST(n_chars AS BIGINT) AS v FROM documents),
      o AS (
        SELECT lang, v,
          row_number() OVER (PARTITION BY lang ORDER BY v) AS rn
        FROM r),
      n AS (SELECT lang, count(*) AS n FROM r GROUP BY 1),
      ranks AS (
        SELECT n.lang, CAST(p AS DOUBLE) AS p,
          CAST(ceil(CAST(p AS DOUBLE) * n.n) AS BIGINT) AS k
        FROM n CROSS JOIN (VALUES (0.5), (0.9)) t(p))
      SELECT ranks.lang AS lang, p, k, v AS value
      FROM ranks JOIN o ON o.lang = ranks.lang AND o.rn = ranks.k
      ORDER BY ranks.lang, p"""))

  /** q165: per-group robust outlier audit — rank-based median + MAD
    * (median absolute deviation) fence on event value, the robust
    * complement to q121's winsorized MOMENTS (mean/stddev are
    * themselves outlier-corrupted; the median/MAD pair has a 50%
    * breakdown point — Hampel's robust-statistics canon) and the
    * data-quality sibling of q119's drift report. Medians are the
    * EXACT rank-ceil(n/2) element via [[groupExactRank]] — two
    * selection passes (value, then |value − med|), each two bounded
    * group-local scans, never a per-group sort or value buffer; the
    * fence compare (dev > 3·MAD) is all-BIGINT cents, so the DuckDB
    * replay is hash-exact with no float tolerance anywhere. */
  val q165MadOutliers = GraftQuery(
    "q165_mad_outlier_audit",
    "LLM-pipeline data quality: exact median/MAD robust outlier fence per group",
    (s, d) => {
      val r = Tables.events(s, d).select(col("event_type"),
        round(col("value") * 100).cast("long").as("v"))
      // med/mad are |groups|-row statistics feeding every branch of the
      // second selection pass and the final fence — materialized so the
      // first selection runs once, not once per consumer (guide §2.4)
      val med = graft.Mat(groupExactRank(s, r, "event_type", Seq(0.5))
        .select(col("event_type"), col("value").as("med")))
      val dev = r.join(broadcast(med), Seq("event_type"))
        .select(col("event_type"), col("med"),
          abs(col("v") - col("med")).as("dev"))
      val mad = graft.Mat(groupExactRank(s,
          dev.select(col("event_type"), col("dev").as("v")),
          "event_type", Seq(0.5))
        .select(col("event_type"), col("value").as("mad")))
      dev.join(broadcast(mad), Seq("event_type"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          max(col("med")).as("med_cents"),
          max(col("mad")).as("mad_cents"),
          sum(when(col("dev") > lit(3) * col("mad"), 1L).otherwise(0L))
            .as("n_outliers"))
        .orderBy(col("event_type"))
    },
    Some("""WITH r AS (
        SELECT event_type, CAST(round(value * 100) AS BIGINT) AS v
        FROM events),
      o AS (SELECT event_type, v,
          row_number() OVER (PARTITION BY event_type ORDER BY v) AS rn
        FROM r),
      n AS (SELECT event_type, count(*) AS n FROM r GROUP BY 1),
      med AS (
        SELECT o.event_type, o.v AS med
        FROM o JOIN n ON o.event_type = n.event_type
          AND o.rn = CAST(ceil(CAST(0.5 AS DOUBLE) * n.n) AS BIGINT)),
      dev AS (
        SELECT r.event_type, med, abs(v - med) AS dev
        FROM r JOIN med ON r.event_type = med.event_type),
      od AS (SELECT event_type, dev,
          row_number() OVER (PARTITION BY event_type ORDER BY dev) AS rn
        FROM dev),
      mad AS (
        SELECT od.event_type, od.dev AS mad
        FROM od JOIN n ON od.event_type = n.event_type
          AND od.rn = CAST(ceil(CAST(0.5 AS DOUBLE) * n.n) AS BIGINT))
      SELECT dev.event_type, count(*) AS n,
        max(med) AS med_cents, max(mad) AS mad_cents,
        CAST(sum(CASE WHEN dev > 3 * mad THEN 1 ELSE 0 END) AS BIGINT)
          AS n_outliers
      FROM dev JOIN mad ON dev.event_type = mad.event_type
      GROUP BY dev.event_type
      ORDER BY dev.event_type"""))

  // ---------------------------------------------------------------------
  // q171: rendezvous (highest-random-weight) sharding — minimal-movement
  // shard assignment for incremental corpus re-sharding
  // ---------------------------------------------------------------------

  /** Rendezvous-hash shard assignment [Thaler-Ravishankar 1998; the
    * consistent-placement algorithm behind cache/storage rings]: a key
    * lands on the shard maximizing w(key, shard) = md5-hash of the pair.
    * THE property that matters for a 100 TB corpus: growing S → S+1
    * moves exactly the keys whose new-shard weight beats all old ones —
    * each key either stays put or moves to the NEW shard (never between
    * old shards), an expected 1/(S+1) of the corpus. Hash-mod sharding
    * moves (S−1)/S ≈ everything, forcing a full rewrite of a 100 TB
    * layout on every topology change; HRW makes re-sharding incremental
    * (rewrite one new shard, delete-in-place from the others). ShardSpec
    * gates the movement theorem and the measured fraction; the md5
    * weights make every assignment DuckDB-replayable.
    *
    * Plan shape: assignment is pure per-row compute in the scan's
    * codegen stage (the S-way candidate expansion is a generator over a
    * literal array, argmax is one partial-aggregatable max(struct) per
    * key) — zero shuffle until the final ≤ S-row stats aggregate. */
  def rendezvousAssign(df: DataFrame, keyCol: String, shards: Int): DataFrame = {
    require(shards >= 1)
    val w = md5Long(concat(lit("hrw:"), col("shard").cast("string"),
      lit(":"), col(keyCol).cast("string")), 13)
    df.select(col(keyCol))
      .withColumn("shard", explode(array((0 until shards).map(lit): _*)))
      .select(col(keyCol), col("shard"), w.as("w"))
      .groupBy(col(keyCol))
      .agg(max(struct(col("w"), col("shard"))).as("m"))
      .select(col(keyCol), col("m.shard").as("shard"))
  }

  val q171RendezvousShard = GraftQuery(
    "q171_rendezvous_shard",
    "S/layout ext: rendezvous-hash shard assignment (minimal-movement re-sharding)",
    (s, d) => rendezvousAssign(Tables.documents(s, d), "doc_id", shards = 8)
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("doc_id")).cast("long").as("id_checksum"),
        min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"))
      .orderBy(col("shard")),
    Some("""WITH sh AS (SELECT unnest(range(0, 8)) AS shard),
      w AS (
        SELECT d.doc_id, sh.shard,
          ('0x' || substr(md5('hrw:' || sh.shard || ':' || d.doc_id), 1, 13))::BIGINT AS w
        FROM documents d CROSS JOIN sh),
      pick AS (
        SELECT doc_id, shard FROM (
          SELECT doc_id, shard,
            row_number() OVER (PARTITION BY doc_id ORDER BY w DESC, shard DESC) AS rn
          FROM w) WHERE rn = 1)
      SELECT CAST(shard AS INTEGER) AS shard, count(*) AS n_docs,
        CAST(sum(doc_id) AS BIGINT) AS id_checksum,
        min(doc_id) AS min_id, max(doc_id) AS max_id
      FROM pick GROUP BY 1 ORDER BY shard"""))

  // ---------------------------------------------------------------------
  // q213: seeded deterministic global shuffle → training shards
  // ---------------------------------------------------------------------

  /** Seeded deterministic global shuffle: the training-data loader's
    * "shuffle the corpus before sharding" step, computed WITHOUT a
    * global sort. perm(id) = (a·id + seed) mod p with p prime > max id
    * and a coprime to p is an affine BIJECTION on [0, p) — the
    * LCG-style format-preserving permutation training loaders use for
    * O(1) random access shuffling (public pattern: Megatron/webdataset
    * index shuffles) — so every key gets a unique pseudo-random
    * position, reproducible from (seed, p) alone, no stored
    * permutation table.
    *
    * Scale shape: perm and shard (= perm mod S) are per-row codegen in
    * the scan stage; the ONLY exchange is the hash partition by shard,
    * and the within-shard order (`pos`) sorts each shard
    * INDEPENDENTLY — N/S rows per sort, shards sized to the cluster's
    * parallelism, where a naive ORDER BY rand() is one global sort of
    * the corpus. a·id stays under 2^63 by construction (a < 2.7e9,
    * id < p ≈ 1e9; raise p only alongside a smaller a — the product
    * bound is the one real constraint of the affine form). */
  def seededShuffleAssign(df: DataFrame, keyCol: String, shards: Int,
      seed: Long, prime: Long = 1000000007L): DataFrame = {
    require(shards >= 1 && prime > 1 && seed >= 0)
    // The affine form is a bijection ONLY on keys in [0, prime), and the
    // a·key product must stay under 2^63 (ADVICE r9: these preconditions
    // were comment-only — an out-of-range corpus silently produced a
    // NON-bijective "shuffle"). Enforce both: the product bound once at
    // plan time, the key range per row inside the scan stage (a codegen
    // branch, zero extra pass — the first bad key fails the job loudly).
    require(prime <= Long.MaxValue / 2654435761L,
      s"prime=$prime overflows a*key in 64-bit (max ${Long.MaxValue / 2654435761L})")
    val key = col(keyCol).cast("long")
    val checkedKey = when(key.isNull || key < 0 || key >= lit(prime),
      raise_error(format_string(
        s"seededShuffleAssign: key %s outside [0, $prime) — affine permutation not bijective",
        key.cast("string")))).otherwise(key)
    // Knuth's 2654435761 (coprime to any prime > itself mod p);
    // SAME literal in the oracle so the products match pre-reduction
    val perm = (lit(2654435761L) * checkedKey + lit(seed % prime)) % lit(prime)
    df.select(col(keyCol))
      .withColumn("perm", perm)
      .withColumn("shard", (col("perm") % shards).cast("int"))
      .withColumn("pos", row_number().over(
        Window.partitionBy(col("shard")).orderBy(col("perm"))).cast("long"))
  }

  /** q213: the shuffle manifest — per shard, the count plus an
    * ORDER-BINDING xor fingerprint over (shard, pos, doc_id) triples
    * (the md5-conv BIGINT trick of q171, so a single swapped pair
    * anywhere in any shard's order flips the hash) and the shard's head
    * document. Proves the whole permutation + within-shard order
    * deterministically, while shipping S rows, not N. */
  val q213SeededShuffle = GraftQuery(
    "q213_seeded_shuffle",
    "LLM-pipeline layout ext: seeded affine-permutation corpus shuffle -> training shards, order-sig manifest",
    (s, d) => seededShuffleAssign(Tables.documents(s, d), "doc_id",
        shards = 8, seed = 42L)
      .withColumn("sig", md5Long(concat(
          col("shard").cast("string"), lit(":"),
          col("pos").cast("string"), lit(":"),
          col("doc_id").cast("string")), 13))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        expr("bit_xor(sig)").as("order_sig"),
        expr("min_by(doc_id, pos)").as("head_doc"),
        min(col("perm")).cast("long").as("min_perm"),
        max(col("perm")).cast("long").as("max_perm"))
      .orderBy(col("shard")),
    Some("""WITH p AS (
        SELECT doc_id,
          (2654435761 * doc_id + 42) % 1000000007 AS perm
        FROM documents),
      a AS (
        SELECT doc_id, perm, CAST(perm % 8 AS INTEGER) AS shard,
          row_number() OVER (PARTITION BY perm % 8 ORDER BY perm) AS pos
        FROM p)
      SELECT shard, count(*) AS n_docs,
        bit_xor(('0x' || substr(md5(shard || ':' || pos || ':' || doc_id),
          1, 13))::BIGINT) AS order_sig,
        min_by(doc_id, pos) AS head_doc,
        CAST(min(perm) AS BIGINT) AS min_perm,
        CAST(max(perm) AS BIGINT) AS max_perm
      FROM a GROUP BY 1 ORDER BY shard"""))

  // ---------------------------------------------------------------------
  // q178: equi-depth histogram — exact quantile edges + bucket counts
  // ---------------------------------------------------------------------

  /** q178: 8-bucket equi-depth histogram of extended price — the
    * ANALYZE artifact a cost-based optimizer actually wants (q10's
    * equi-WIDTH histogram mis-sizes selectivity under skew; equi-depth
    * edges put ~N/8 rows in every bucket by construction, ties
    * spilling deterministically). Edges are TRUE order statistics at
    * ranks ⌈i·N/8⌉ via the q145/q158 two-pass distributed selection
    * ([[groupExactRank]] with a constant group — i/8 is binary-exact,
    * so ceil(p·n) is the exact integer rank cross-engine); bucket
    * assignment is a 7-element broadcast-array scan in the row's
    * codegen stage (bucket = #edges below + 1), one hash aggregate
    * after. Full oracle: DuckDB re-derives every edge by row_number
    * and every count. */
  val q178EquiDepthHist = GraftQuery(
    "q178_equidepth_hist",
    "A/CBO ext: exact equi-depth histogram (distributed-selection edges)",
    (s, d) => {
      val r = Tables.lineitem(s, d).select(lit(1).as("g"),
        round(col("l_extendedprice") * 100).cast("long").as("v"))
      val edges = groupExactRank(s, r, "g", (1 to 7).map(_ / 8.0))
      val arr = edges.agg(sort_array(collect_list(col("value"))).as("edges"))
      val hi = r.agg(max(col("v")).as("maxv"))
      r.crossJoin(broadcast(arr))
        .select((size(expr("filter(edges, e -> v > e)")) + 1).as("bucket"))
        .groupBy(col("bucket")).agg(count(lit(1)).as("n_rows"))
        .crossJoin(broadcast(arr)).crossJoin(broadcast(hi))
        .select(col("bucket"),
          when(col("bucket") <= 7, expr("edges[bucket - 1]"))
            .otherwise(col("maxv")).as("hi_edge"),
          col("n_rows"))
        .orderBy(col("bucket"))
    },
    Some("""WITH r AS (
        SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS v
        FROM lineitem),
      n AS (SELECT count(*) AS n FROM r),
      o AS (SELECT v, row_number() OVER (ORDER BY v) AS rn FROM r),
      ks AS (SELECT i,
          CAST(ceil(CAST(i AS DOUBLE) / 8 * (SELECT n FROM n)) AS BIGINT) AS k
        FROM (SELECT unnest(range(1, 8)) AS i)),
      edges AS (SELECT ks.i, o.v AS edge FROM ks JOIN o ON o.rn = ks.k),
      vals AS (SELECT v, count(*) AS cnt FROM r GROUP BY v),
      nb AS (SELECT vals.v, vals.cnt, count(e.edge) AS below
        FROM vals LEFT JOIN edges e ON e.edge < vals.v
        GROUP BY vals.v, vals.cnt),
      hist AS (SELECT CAST(1 + below AS INTEGER) AS bucket,
          CAST(sum(cnt) AS BIGINT) AS n_rows
        FROM nb GROUP BY 1),
      mx AS (SELECT max(v) AS maxv FROM r)
      SELECT h.bucket,
        CASE WHEN h.bucket <= 7
          THEN (SELECT edge FROM edges WHERE i = h.bucket)
          ELSE (SELECT maxv FROM mx) END AS hi_edge,
        h.n_rows
      FROM hist h ORDER BY bucket"""))

  def queries: Seq[GraftQuery] = Seq(q158GroupOrderStats, q165MadOutliers,
    q171RendezvousShard, q178EquiDepthHist, q213SeededShuffle,
    q82SaltedAgg, q87ZOrderRoundTrip,
    q95MergeUpsert, q100TableDiff, q107IncrementalAgg, q108SaltedJoin,
    q112CascadeDelete, q117Fingerprint, q118SkewReport, q124DictJoin,
    q130Compaction, q138IvmJoin, q144Skyline, q145OrderStats)
}
