package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType
import graft.functions.SketchFunctions.toks

/** Structured Streaming surface (north-star extension; the reference is
  * batch-only with file-existence stage caching, app/main.py:110-177).
  *
  * The transforms are written against a plain DataFrame so the SAME logic
  * runs as a batch plan (operators.Events.q70) and as an incremental
  * streaming plan — the Spark unification the engine's pipeline-runner
  * relies on. StreamingSpec asserts batch/stream result equivalence on the
  * test events.
  *
  * At scale: the windowed agg carries a 1-hour watermark so state for
  * closed windows is dropped; dedup state is similarly watermark-bounded.
  * availableNow processes a backlog in bounded batches and terminates —
  * the "catch up the last day of postings" mode.
  */
object StreamingJobs {

  /** Per-trigger WORK timing for the micro-batch state jobs (VERDICT
    * r13 #6: streamed-query walls swing 2-5× with host load, and
    * without a work-vs-wait split every swing costs a manual re-run to
    * classify). Every apply*Batch body records here — through
    * [[withStateVersion]] for the versioned-state family and explicit
    * [[TriggerTiming.record]] wraps for the partition-dir sinks — so
    * the time INSIDE per-trigger merge/commit work is separable from
    * everything around it (stream bookkeeping, file discovery, host
    * scheduling: the load-sensitive share). The accumulated
    * (batches, busy-nanos) per label lets Bench emit
    * `stream: {q: {work, batches}}` into its artifact; wall − work is
    * the wait share, and tools/bench_diff.py's stream-wait rule
    * classifies a cross-round swing from the artifacts alone. Work is
    * keyed by [[graft.BenchLabel]] (its label contract applies). */
  object TriggerTiming {
    private val acc = scala.collection.concurrent.TrieMap
      .empty[String, (Long, Long)] // label -> (batches, busyNanos)
    def record[T](body: => T): T = {
      val t0 = System.nanoTime()
      try body
      finally {
        val l = graft.BenchLabel.current
        val (b, n) = acc.getOrElse(l, (0L, 0L))
        acc.update(l, (b + 1, n + (System.nanoTime() - t0)))
      }
    }
    def snapshot: Map[String, (Long, Long)] = acc.toMap
    def reset(): Unit = acc.clear()
  }

  /** Shared transform: tumbling 1-hour window count/sum per event type. */
  def windowedAgg(events: DataFrame): DataFrame =
    events
      .groupBy(
        window(col("ts"), "1 hour").getField("start").as("win_start"),
        col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))

  /** Events as an unbounded stream from a parquet directory (one file =
    * one micro-batch here; on a cluster this is the landing zone dir).
    * `ts` normalizes to TimestampType whichever way the files store it —
    * epoch-nanos LONG (old testdata generation) via exact integer `div`,
    * timestamp[us] NTZ (current generation) via a UTC-session-safe cast —
    * mirroring the batch path (Tables.eventsWithTs). */
  def eventStream(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema = spark.read.parquet(dir).schema
    val raw = fileStream(spark, dir, schema)
    schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case _ =>
        raw.withColumn("ts", col("ts").cast("timestamp"))
    }
  }

  /** The parquet files under `dir` as a stream, one file per trigger
    * (on a cluster `dir` is the landing zone). */
  private def fileStream(spark: SparkSession, dir: String,
      schema: StructType): DataFrame =
    spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(dir)

  /** Starts `writer` on the AvailableNow trigger and blocks until the
    * backlog present at start is processed; returns the finished query. */
  private def awaitAvailableNow(writer: DataStreamWriter[Row]): StreamingQuery = {
    val q = writer.trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    q
  }

  /** The one live runner behind every `runStreaming*` foreachBatch job:
    * the backlog of parquet files under `streamDir` (read with `schema`)
    * is handed to `f` one file per micro-batch with its batchId, and the
    * call returns once the backlog is drained. foreachBatch is
    * at-least-once: a restarted query may hand `f` a batch again under
    * the same batchId. The state is exactly-once when `f` is an
    * apply*Batch function, since each commits once per batchId and
    * skips a batchId it already committed. An exception in `f` fails
    * the query and is rethrown here by awaitTermination.
    *
    * The stream's checkpoint lives at `dir/_checkpoint`, next to the
    * state or sink `f` commits into, so a re-run over the same `dir`
    * resumes the file log and batch numbering: a file processed before
    * is never handed to `f` again, and a new file gets a fresh batchId
    * whatever its mtime. The `_` prefix keeps the checkpoint out of the
    * state-version listing and of parquet readers of `dir`. */
  private def foreachBatchAvailableNow(spark: SparkSession, streamDir: String,
      schema: StructType, dir: String)(f: (DataFrame, Long) => Unit): StreamingQuery =
    awaitAvailableNow(fileStream(spark, streamDir, schema).writeStream
      .option("checkpointLocation", s"$dir/_checkpoint")
      .foreachBatch(f))

  /** A fresh staging dir for one streamed-state run, rooted under
    * spark.graft.stream.stageDir when set (a shared-FS path every
    * executor can write — the cluster contract), else a driver-local
    * temp dir (correct on local[*] only). The suffix is unique per run
    * so concurrent runs never share state. */
  private[graft] def stagingDir(s: SparkSession, prefix: String): String =
    graft.GraftConf.streamStageDir(s) match {
      case Some(root) =>
        val p = s"$root/${prefix}_${java.util.UUID.randomUUID().toString.take(12)}"
        val hp = new Path(p)
        hp.getFileSystem(s.sparkContext.hadoopConfiguration).mkdirs(hp)
        p
      case None =>
        java.nio.file.Files.createTempDirectory(prefix).toString
    }

  /** Runs `body` on a fresh [[stagingDir]] and deletes the dir
    * afterwards, whether `body` returns or throws — no staging dir
    * outlives the call. Anything `body` returns that still reads the dir
    * (a lazy DataFrame over its files) must be materialized inside
    * `body`. */
  def withStagingDir[T](s: SparkSession, prefix: String)(body: String => T): T = {
    val dir = stagingDir(s, prefix)
    try body(dir)
    finally {
      val p = new Path(dir)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
    }
  }

  /** Drives a streamed twin to drain without a live stream: `input` is
    * cut into `nBatches` slices by `pmod(key, nBatches)`, and slice i is
    * folded as batchId i through `apply(slice, batchId, stateDir)` — an
    * apply*Batch function on the versioned-state contract — into a
    * state dir from [[withStagingDir]]. Returns the last committed state,
    * materialized with [[graft.Mat]] before the dir is deleted.
    * Exactly-once: each batchId commits once and a replayed batchId is a
    * no-op, so the drained state is the fold of every slice once. Leak-
    * free: the state dir is gone when this returns, and also when a
    * batch or the materialization throws (the exception propagates). */
  def drain(s: SparkSession, prefix: String, input: DataFrame, key: String,
      nBatches: Int)(apply: (DataFrame, Long, String) => Boolean): DataFrame = {
    require(nBatches >= 1, s"nBatches must be >= 1, got $nBatches")
    withStagingDir(s, prefix) { dir =>
      (0 until nBatches).foreach { i =>
        apply(input.filter(pmod(col(key), lit(nBatches)) === i), i.toLong, dir)
      }
      graft.Mat(latestAggState(s, dir).get._2)
    }
  }

  /** Run the windowed agg over the directory's backlog with a 1-hour
    * watermark, availableNow trigger, memory sink; returns the finished
    * query (results in table `sinkName`). */
  def runWindowedAgg(spark: SparkSession, dir: String, sinkName: String): StreamingQuery =
    awaitAvailableNow(windowedAgg(eventStream(spark, dir).withWatermark("ts", "1 hour"))
      .writeStream
      .queryName(sinkName)
      .format("memory")
      .outputMode("complete"))

  /** Streaming windowed approx-distinct: unique users per tumbling
    * event-time hour via approx_count_distinct — the production shape
    * for cardinality over streams, because HLL state is a fixed-size
    * mergeable sketch per window (KBs) where exact distinct keeps every
    * key in state (unbounded per window at 100 TB rates). This demo
    * runs complete mode into a memory table (the AvailableNow backlog
    * shape, where the watermark is inert); an unbounded production
    * deployment uses update/append mode so the watermark EVICTS closed
    * windows and total state is open-windows × one sketch. The q103
    * error gate covers the estimator itself; StreamingSpec bounds the
    * streamed estimate against the batch exact count per window. */
  def runStreamingWindowedDistinct(spark: SparkSession, dir: String,
      sinkName: String): StreamingQuery =
    awaitAvailableNow(eventStream(spark, dir)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(approx_count_distinct(col("user_id"), rsd = 0.02).as("approx_users"))
      .select(col("window.start").as("w_start"), col("approx_users"))
      .writeStream
      .queryName(sinkName)
      .format("memory")
      .outputMode("complete"))

  /** Streaming near-dup detection: embeddings arriving as a stream are
    * hashed with the *already-fitted* LSH model and stream-static joined
    * against the hashed corpus on (hash-table, bucket) — the reference's
    * batch question ("which existing postings does this new posting
    * duplicate?", app/main.py:201-265) answered continuously per
    * micro-batch. Candidates are verified with the exact cosine kernel.
    *
    * At scale the static side is the bucketed index table (Scale
    * .writeBucketed on the bucket key) so each micro-batch joins without
    * re-shuffling the corpus; dedup state on the output would be
    * watermark-bounded in production (unbounded here: availableNow demo).
    */
  def runStreamingNearDup(spark: SparkSession, streamDir: String, corpusDir: String,
      threshold: Double, sinkName: String): StreamingQuery = {
    import graft.functions.VectorKernels.cosineFast
    def hashed(df: org.apache.spark.sql.DataFrame) =
      graft.operators.Ann.lshHashBuckets(spark, corpusDir, df)
    // Salt the bucket key: an LSH mega-bucket would otherwise hand one
    // task the whole bucket's candidate generation every micro-batch
    // (same join-output skew as the batch path, Ann.nearDupFromBuckets).
    // The *static* side carries the salt (cid % salts) so it is never
    // replicated; the small per-trigger stream side explodes to all
    // salts — every (stream row, corpus row) bucket pair still meets
    // exactly once.
    val salts = graft.GraftConf.lshBucketSalts(spark)
    val corpus = hashed(spark.read.parquet(s"$corpusDir/embeddings.parquet"))
      .withColumnRenamed("vec_id", "cid").withColumnRenamed("embedding", "cvec")
      .withColumn("salt", (col("cid") % salts).cast("int"))
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val stream = fileStream(spark, streamDir, spark.read.parquet(streamDir).schema)
    awaitAvailableNow(hashed(stream)
      .withColumn("salt", explode(array((0 until salts).map(lit): _*)))
      .join(corpus, Seq("ht", "bucket", "salt"))
      .filter(col("vec_id") =!= col("cid"))
      .select(col("vec_id"), col("cid"),
        round(cosineFast(col("embedding"), col("cvec")), 4).as("sim"))
      .filter(col("sim") >= threshold)
      .dropDuplicates("vec_id", "cid")
      .writeStream
      .queryName(sinkName)
      .format("memory")
      .outputMode("append"))
  }

  /** Continuous "index add" (M3 as a process): embeddings arriving as a
    * stream are assigned their IVF cell with the corpus's fitted
    * quantizer and appended to the assignment table — the reference's
    * batched index.add loop (app/main.py:85-91) as a standing ingestion
    * job. foreachBatch is the idiomatic shape: each micro-batch is a
    * plain DataFrame, so the BATCH assignment path (Ann.assignCells,
    * model.transform) runs unchanged and the sink write can be bucketed
    * by centroid_id at scale (the probe join then stays shuffle-free,
    * see BucketingSpec). */
  /** Insert one micro-batch of vectors into the persistent NSW graph
    * index, exactly once per batchId — the graph-tier M3 "add" next to
    * the IVF assign-and-append below, on the same versioned-state
    * contract as [[applyAggBatch]]: a replayed batchId is a no-op, a
    * crash leaves the previous committed version to resume from, and
    * the first batch bootstraps the index from the corpus. Per-batch
    * cost is O(|batch| · ef · degree) greedy insertions per shard (the
    * stored graph rows ride one shuffle to meet their batch points),
    * never a rebuild. */
  def applyGraphBatch(spark: SparkSession, batch: DataFrame, batchId: Long,
      corpusDir: String, stateDir: String): Boolean =
    withStateVersion(spark, stateDir, batchId, coalesceOne = false) { prev =>
      val base = prev.getOrElse(
        graft.operators.Nsw.graphsForFrame(graft.Tables.embeddings(spark, corpusDir)))
      graft.operators.Nsw.addToGraphs(base,
        batch.select(col("vec_id"), col("embedding")))
    }

  /** Streaming NSW graph index-add: vector files arriving as a stream
    * are inserted into the sharded graph index per micro-batch
    * (exactly-once via [[applyGraphBatch]]'s versioned state; read it
    * with [[latestAggState]]). When stream vec_ids ascend past the
    * corpus ids — the natural arrival order for crawl ids — the drained
    * state is BIT-IDENTICAL to a one-shot rebuild over corpus+stream
    * (StreamingSpec proves it). */
  def runStreamingGraphIndexAdd(spark: SparkSession, streamDir: String,
      corpusDir: String, stateDir: String): StreamingQuery =
    foreachBatchAvailableNow(spark, streamDir, spark.read.parquet(streamDir).schema, stateDir) {
      (batch, batchId) => applyGraphBatch(spark, batch, batchId, corpusDir, stateDir)
    }

  /** True iff `dir/batch_id=<batchId>` carries a _SUCCESS marker — the
    * committed-partition test the idempotent foreachBatch SINKS key on
    * (versioned-STATE jobs key on `state_b<id>` via committedVersions). */
  private def batchPartitionCommitted(spark: SparkSession, dir: String,
      batchId: Long): Boolean = {
    val p = new Path(s"$dir/batch_id=$batchId", "_SUCCESS")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** Assign one micro-batch of vectors to their IVF cells and commit the
    * result as partition `outDir/batch_id=<batchId>`, exactly once: a
    * replayed batchId whose partition already committed is a no-op, and
    * a crashed partial write is simply overwritten by the retry (same
    * dir, mode overwrite) — the sink-side twin of [[applyAggBatch]]'s
    * state contract. Readers see batch_id as a discovered partition
    * column under plain spark.read.parquet(outDir). */
  def applyIndexAddBatch(spark: SparkSession, batch: DataFrame, batchId: Long,
      corpusDir: String, outDir: String): Boolean = {
    if (batchPartitionCommitted(spark, outDir, batchId)) return false // replay
    TriggerTiming.record {
      graft.operators.Ann.assignCells(spark, corpusDir, batch)
        .write.mode("overwrite").parquet(s"$outDir/batch_id=$batchId")
      true
    }
  }

  /** [[applyIndexAddBatch]] for a REPAIRED index version: the batch is
    * assigned against an EXPLICIT centroid table (the current version's
    * member-mean centroids — post-repair cells are not a KMeansModel)
    * instead of the frozen fitted quantizer, under the same
    * committed-partition exactly-once contract. This is the steady
    * state of the standing maintenance loop (Ann.streamedMonitorRepair):
    * after a monitor-triggered repair swaps in version v+1, every later
    * arrival routes through v+1's quantizer — the faiss discipline that
    * `add` after a re-train goes through the NEW index
    * (app/vector_search.py:85-106 train → :108-141 add). */
  def applyIndexAddBatchVersioned(spark: SparkSession, batch: DataFrame,
      batchId: Long, centroids: Array[(Int, Array[Double])],
      outDir: String): Boolean = {
    if (batchPartitionCommitted(spark, outDir, batchId)) return false // replay
    TriggerTiming.record {
      graft.operators.Ann.assignWithCentroids(batch, centroids)
        .write.mode("overwrite").parquet(s"$outDir/batch_id=$batchId")
      true
    }
  }

  def runStreamingIndexAdd(spark: SparkSession, streamDir: String, corpusDir: String,
      outDir: String): StreamingQuery = {
    graft.operators.Ann.ivfIndexFull(spark, corpusDir) // fit/load once, up front
    foreachBatchAvailableNow(spark, streamDir, spark.read.parquet(streamDir).schema, outDir) {
      (batch, batchId) => applyIndexAddBatch(spark, batch, batchId, corpusDir, outDir)
    }
  }

  /** Streaming incremental TEXT dedup (the q69 batch operator as a
    * standing job): document files arriving as a stream are MinHash-
    * banded, candidate-joined against the accumulated reference
    * (initial corpus + every previously seen increment), exact-Jaccard
    * verified, and only the surviving documents are appended to
    * `outDir`. foreachBatch so the batch operator
    * (Dedup.incrementalDedupFrames) runs unchanged per micro-batch;
    * every processed document (survivor or not) joins the reference so
    * a later re-crawl of a dropped document is still recognized.
    *
    * When increments arrive in ascending doc_id order (the natural
    * crawl-id layout), the accumulated result equals the one-shot batch
    * q69 answer bit-for-bit (StreamingSpec proves it). At scale the
    * reference's band/shingle relations are materialized bucketed
    * tables appended per trigger, not re-derived from text. */
  /** Dedup one micro-batch of documents against corpus + earlier
    * batches, exactly once per batchId. Both sinks (survivors, _seen)
    * are batch_id-partitioned; the COMMIT POINT is the _seen partition's
    * _SUCCESS (written last), so a crash between the two writes replays
    * the whole batch: the reference is rebuilt from strictly EARLIER
    * committed partitions (batch_id < batchId — this also hides any
    * partial files a crashed attempt of THIS batch left behind), the
    * survivor set recomputes deterministically, and both partitions are
    * overwritten in place. */
  def applyTextDedupBatch(spark: SparkSession, batch: DataFrame, batchId: Long,
      corpus: DataFrame, outDir: String, threshold: Double): Boolean = {
    val seenDir = s"$outDir/_seen"
    val survivorsDir = s"$outDir/survivors"
    if (batchPartitionCommitted(spark, seenDir, batchId)) return false // replay
    TriggerTiming.record {
      val b = batch.select(col("doc_id"), col("source"), col("text"))
      val seen =
        try spark.read.parquet(seenDir)
          .filter(col("batch_id") < batchId)
          .select(col("doc_id"), col("source"), col("text"))
        catch { case _: Exception => b.limit(0) }
      val ref = corpus.unionByName(seen)
      graft.operators.Dedup.incrementalDedupFrames(ref, b, threshold)
        .write.mode("overwrite").parquet(s"$survivorsDir/batch_id=$batchId")
      b.write.mode("overwrite").parquet(s"$seenDir/batch_id=$batchId")
      true
    }
  }

  def runStreamingTextDedup(spark: SparkSession, streamDir: String,
      corpusParquet: String, outDir: String, threshold: Double): StreamingQuery = {
    val corpus = spark.read.parquet(corpusParquet)
      .select(col("doc_id"), col("source"), col("text"))
    foreachBatchAvailableNow(spark, streamDir, corpus.schema, outDir) {
      (batch, batchId) => applyTextDedupBatch(spark, batch, batchId, corpus, outDir, threshold)
    }
  }

  // -------------------------------------------------------------------
  // Incremental aggregate state: versioned, batchId-keyed, crash-safe.
  //
  // Layout: stateDir/state_b<batchId>/ (parquet). A version COUNTS only
  // once Spark's job commit has written its _SUCCESS marker; the current
  // state is the committed version with the highest batchId. This gives
  // both guarantees the old rename-swap lacked:
  //   * exactly-once under foreachBatch's at-least-once replay — a
  //     replayed batchId <= the latest committed version is a no-op, so
  //     a crashed-and-retried micro-batch can never double-merge;
  //   * no crash window — the previous state dir is never moved or
  //     deleted before the new version is fully committed; a crash
  //     mid-write leaves an uncommitted dir that the next run simply
  //     overwrites (mode overwrite to the same versioned path).
  // -------------------------------------------------------------------

  private val StateVersionRe = "state_b(\\d+)".r

  /** The versioned state-commit contract EVERY apply*Batch shares (one
    * definition, so the crash-safety guarantees cannot drift apart):
    * no-op (false) when a version >= batchId is already committed;
    * otherwise hand the latest committed state (None on bootstrap) to
    * `merge`, commit its result as `state_b<batchId>` (the parquet
    * job's _SUCCESS is the commit point), and only then GC superseded
    * versions plus uncommitted leftovers of crashed attempts — a crash
    * anywhere leaves a committed predecessor to recover from.
    * `coalesceOne` packs small state relations into one file; pass
    * false for corpus-sized state (the NSW graphs). */
  private def withStateVersion(spark: SparkSession, stateDir: String,
      batchId: Long, coalesceOne: Boolean = true)
      (merge: Option[DataFrame] => DataFrame): Boolean = {
    val dir = new Path(stateDir)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val versions = committedVersions(fs, dir)
    if (versions.lastOption.exists(_._1 >= batchId)) return false // replay: no-op
    // applied (non-replay) triggers record their merge+commit wall as
    // WORK (TriggerTiming) — the per-trigger share a bench artifact can
    // subtract from the query wall to isolate load-sensitive wait
    TriggerTiming.record {
      val prev = versions.lastOption.map { case (_, p) => spark.read.parquet(p.toString) }
      val out = merge(prev)
      val target = new Path(dir, s"state_b$batchId")
      (if (coalesceOne) out.coalesce(1) else out)
        .write.mode("overwrite").parquet(target.toString)
      fs.listStatus(dir).foreach { st =>
        st.getPath.getName match {
          case StateVersionRe(b) if st.isDirectory && b.toLong < batchId =>
            fs.delete(st.getPath, true)
          case _ => ()
        }
      }
      true
    }
  }

  /** Committed (_SUCCESS-marked) state versions under `stateDir` as
    * (batchId, path), ascending by batchId. */
  private def committedVersions(fs: org.apache.hadoop.fs.FileSystem,
      stateDir: Path): Seq[(Long, Path)] =
    if (!fs.exists(stateDir)) Seq.empty
    else fs.listStatus(stateDir).toSeq.filter(_.isDirectory).flatMap { st =>
      st.getPath.getName match {
        case StateVersionRe(b)
            if fs.exists(new Path(st.getPath, "_SUCCESS")) =>
          Some((b.toLong, st.getPath))
        case _ => None
      }
    }.sortBy(_._1)

  /** The latest committed aggregate state as (batchId, state relation);
    * None before any batch has committed. */
  def latestAggState(spark: SparkSession, stateDir: String): Option[(Long, DataFrame)] = {
    val dir = new Path(stateDir)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    committedVersions(fs, dir).lastOption
      .map { case (b, p) => (b, spark.read.parquet(p.toString)) }
  }

  /** Merge one micro-batch into the persistent agg state, exactly once
    * per batchId: skipped (returns false) when a version >= batchId is
    * already committed — the idempotency key foreachBatch's at-least-once
    * contract requires. Otherwise aggregates the batch alone
    * (Scale.aggState), merges it with the latest committed state
    * (Scale.mergeAggStates), commits the result as state_b<batchId>, and
    * only then garbage-collects superseded versions (a crash anywhere
    * leaves a committed predecessor to recover from). */
  def applyAggBatch(spark: SparkSession, batch: DataFrame, batchId: Long,
      key: String, valueCol: String, stateDir: String): Boolean =
    withStateVersion(spark, stateDir, batchId) { prev =>
      val delta = graft.plans.Scale.aggState(batch, key, valueCol)
      prev.map(p => graft.plans.Scale.mergeAggStates(p, delta, key))
        .getOrElse(delta)
    }

  /** Merge one micro-batch of documents into a persistent Misra-Gries
    * heavy-hitter summary, exactly once per batchId (same versioned
    * `state_b<id>`/_SUCCESS contract as [[applyAggBatch]]). The state is
    * AT MOST k counter rows (term, cnt) plus one sentinel row
    * (term NULL, cnt 0) that keeps the running token total `total_n`
    * readable even when no counter survives — never the vocabulary:
    * that bound is the whole point (q132's rationale, made incremental).
    *
    * Merge rule (public mergeable-summaries result, Agarwal et al.):
    * sum the batch's exact term counts into the counters, and if more
    * than k remain, subtract the (k+1)-th largest count from ALL and
    * drop the non-positives — at most k survive (ties below the cut die
    * with it). Each reduction by c* destroys ≥ (k+1)·c* count mass, so
    * total undercount after any number of merges is ≤ n/(k+1): every
    * term with true count > n/(k+1) is guaranteed ALIVE in the summary,
    * and a candidate-only exact pass (q134) turns that into an exact
    * answer. The (k+1) boundary values are collected to the driver —
    * bounded by k, the operator's declared memory budget.
    *
    * Per-trigger cost: one batch-vocabulary aggregate (bounded by the
    * batch, never history) + a ≤ (k + batch-vocab)-row merge. */
  def applyMgBatch(spark: SparkSession, batch: DataFrame, textCol: String,
      batchId: Long, k: Int, stateDir: String): Boolean = {
    require(k >= 1, s"counter budget k must be >= 1, got $k")
    // cached intermediates outlive the merge closure so they can be
    // unpersisted after the state write materializes them; the finally
    // covers a throwing merge/state-write too — without it a failed
    // batch would leak cached blocks for the life of a streaming driver
    var cached: Seq[DataFrame] = Nil
    val applied = try withStateVersion(spark, stateDir, batchId) { prev =>
      val tok = batch.select(
        explode(toks(col(textCol))).as("term"))
      val delta = tok.groupBy(col("term")).agg(count(lit(1)).as("cnt")).cache()
      val prevTotal = prev.map(_.agg(max(col("total_n"))).head().getLong(0)).getOrElse(0L)
      val prevCounters = prev.map(_.filter(col("term").isNotNull)
        .select(col("term"), col("cnt"))).getOrElse(delta.limit(0))
      val merged = prevCounters.unionByName(delta)
        .groupBy(col("term")).agg(sum(col("cnt")).as("cnt")).cache()
      cached = Seq(delta, merged)
      // one driver action per trigger (r17, guide §5 "the driver should
      // do almost no data work" + per-trigger job-latency): the batch
      // mass and the (k+1)-th-largest reduction value used to be two
      // extra driver round-trips (an agg head + a top-(k+1) collect) —
      // they are 1-row aggregates, so they now ride into the state
      // write as broadcast scalar subtrees over the SAME cached
      // relations. Values are identical: `cstar` is the (k+1)-th
      // largest merged count (0 when ≤ k survive — count(*) over the
      // k+1 limit tells which), newTotal the same sum.
      val cStarRow = merged.select(col("cnt")).orderBy(col("cnt").desc)
        .limit(k + 1)
        .agg(when(count(lit(1)) <= k, 0L)
          .otherwise(min(col("cnt"))).as("cstar"))
      val totalRow = delta
        .agg((coalesce(sum(col("cnt")), lit(0L)) + prevTotal).as("total_n"))
      val sentinel = spark.range(1).select(
        lit(null).cast("string").as("term"), lit(0L).as("cnt"))
      merged.crossJoin(broadcast(cStarRow))
        .select(col("term"), (col("cnt") - col("cstar")).as("cnt"))
        .filter(col("cnt") > 0)
        .unionByName(sentinel)
        .crossJoin(broadcast(totalRow))
    } finally cached.foreach(_.unpersist())
    applied
  }

  /** Streaming heavy-hitter maintenance: the q132 Misra-Gries summary
    * kept current over an unbounded document stream, one [[applyMgBatch]]
    * merge per micro-batch. State stays ≤ k rows forever; read it any
    * time with [[latestAggState]] — counters are term-count UNDERestimates
    * with error ≤ total_n/(k+1), so `cnt + total_n/(k+1) >= threshold`
    * selects candidates with zero false negatives (exactify against the
    * corpus as in q134 when the corpus is at rest). */
  def runStreamingHeavyHitters(spark: SparkSession, streamDir: String,
      textCol: String, k: Int, stateDir: String): StreamingQuery =
    foreachBatchAvailableNow(spark, streamDir, spark.read.parquet(streamDir).schema, stateDir) {
      (batch, batchId) => applyMgBatch(spark, batch, textCol, batchId, k, stateDir)
    }

  /** Streaming incremental aggregate maintenance — the q107 state-merge
    * loop as a standing job: each micro-batch is aggregated alone
    * (Scale.aggState) and merged into the persistent state table
    * (Scale.mergeAggStates), so refresh cost per trigger scales with the
    * batch, never with history. State versions are batchId-keyed and
    * _SUCCESS-committed (see applyAggBatch), so a replayed batch is a
    * no-op and a crash at any point leaves a committed state to resume
    * from. The state is one row per key — KBs; at 100 TB key
    * cardinality, write it partitioned/bucketed and MERGE instead. After
    * the stream drains, the state must equal a one-shot batch aggregate
    * over everything seen (StreamingSpec proves it, along with replay
    * idempotency — the same associativity q107's oracle proves
    * cross-engine). */
  def runStreamingIncrementalAgg(spark: SparkSession, streamDir: String,
      key: String, valueCol: String, stateDir: String): StreamingQuery =
    foreachBatchAvailableNow(spark, streamDir, spark.read.parquet(streamDir).schema, stateDir) {
      (batch, batchId) => applyAggBatch(spark, batch, batchId, key, valueCol, stateDir)
    }

  /** Merge one micro-batch of documents into a persistent Count-Min
    * cell relation, exactly once per batchId (the [[applyAggBatch]]
    * versioned contract). The CMS is ADDITIVE — summing cell counts of
    * two corpora is the sketch of their union — so the merge is one
    * ≤ depth×width-row union+sum; state stays ≤ depth×width rows
    * (+ one marker row per folded batch) forever. The streamed sketch
    * is bit-identical to the one-shot batch sketch (q154 carries q151's
    * full oracle to prove it).
    *
    * Redelivery contract: the batchId guard makes exact replays no-ops,
    * and each committed state additionally carries a PAYLOAD
    * fingerprint row per folded batch — (j = −1, cell = bit_xor of the
    * rows' xxhash64(idCol), cnt = row count), an order- and
    * partitioning-independent id-set signature committed ATOMICALLY
    * with the cells it covers (same parquet + _SUCCESS). A batch whose
    * payload fingerprint is already in the state — the at-least-once
    * "same data, NEW batchId" redelivery the plain version guard cannot
    * see — is a no-op (StreamingSpec gates it). Consumers join on
    * j ∈ [0, depth), so marker rows are invisible to every probe.
    *
    * Fingerprint caveats: XOR of 64-bit hashes is a weak SET signature
    * — two genuinely different same-size id-sets can collide (any ids
    * whose hashes XOR equal), in which case new data is silently
    * dropped as "already folded"; negligible for organic ids
    * (~2^-64 per candidate pair) but it is a silent-loss mode, and the
    * marker relation grows one row per folded batch forever (the cells
    * stay ≤ depth×width; compact markers out-of-band if batch counts
    * reach millions). Both caveats — and the strict-SUBSET redelivery
    * below — vanish under `dedupIds`.
    *
    * `dedupIds = false` (default) PRECONDITION: a batch that
    * re-delivers a strict SUBSET of a committed batch's documents is
    * indistinguishable from new data and still inflates cells —
    * additivity is the design. `dedupIds = true` closes it exactly:
    * incoming rows route through a set-union id state (the
    * [[applySampleBatch]] pattern) — rows whose `idCol` (numeric,
    * stored as `j = -2` state rows) was ever folded are dropped before
    * the sketch fold, so ANY overlap pattern is a no-op at the cost of
    * O(#docs-ever) extra state rows (at 100 TB keep that relation as a
    * bucketed table or a Bloom front like q133 and accept its FP
    * rate). */
  def applyCmsBatch(spark: SparkSession, batch: DataFrame, textCol: String,
      batchId: Long, depth: Int, width: Int, stateDir: String,
      idCol: String = "doc_id", dedupIds: Boolean = false): Boolean = {
    val fp = batch.agg(
      coalesce(expr(s"bit_xor(xxhash64(`$idCol`))"), lit(0L)).as("x"),
      count(lit(1)).as("n")).head()
    val (x, nrows) = (fp.getLong(0), fp.getLong(1))
    val alreadyFolded = latestAggState(spark, stateDir).exists { case (_, p) =>
      p.filter(col("j") === -1 && col("cell") === x && col("cnt") === nrows)
        .limit(1).count() > 0
    }
    if (alreadyFolded) return false
    withStateVersion(spark, stateDir, batchId) { prev =>
      val fresh =
        if (!dedupIds) batch
        else prev match {
          case Some(p) => batch.join(
            p.filter(col("j") === -2).select(col("cell").as(idCol)),
            Seq(idCol), "left_anti")
          case None => batch
        }
      val delta = graft.operators.TextAnalysis.cmsCells(fresh, textCol, depth, width)
      val marker = spark.range(1).select(
        lit(-1).as("j"), lit(x).as("cell"), lit(nrows).as("cnt"))
      val idRows =
        if (!dedupIds) marker.limit(0)
        else fresh.select(lit(-2).as("j"),
          col(idCol).cast("long").as("cell"), lit(0L).as("cnt")).distinct()
      prev match {
        case Some(p) => p.filter(col("j") >= 0).unionByName(delta)
          .groupBy(col("j"), col("cell")).agg(sum(col("cnt")).as("cnt"))
          // markers and id rows ride along OUTSIDE the sum (distinct
          // payloads may collide on (j, cell) but must stay distinct
          // rows; id rows are already distinct)
          .unionByName(p.filter(col("j") < 0))
          .unionByName(marker)
          .unionByName(idRows)
        case None => delta.unionByName(marker).unionByName(idRows)
      }
    }
  }

  /** Merge one micro-batch of documents into a persistent HLL register
    * relation, exactly once per batchId (the [[applyAggBatch]] versioned
    * contract). Unlike the additive CMS above, the register MAX-merge is
    * IDEMPOTENT — max(a, a) = a — so this state is the one sketch in
    * the tier that survives overlapping at-least-once redelivery with
    * no upstream dedup: a re-delivered document re-asserts register
    * ranks it already set. State stays ≤ m rows forever; the streamed
    * sketch is bit-identical to the one-shot batch sketch (q168 carries
    * q167's full oracle to prove it). */
  def applyHllBatch(spark: SparkSession, batch: DataFrame, textCol: String,
      batchId: Long, m: Int, stateDir: String): Boolean =
    withStateVersion(spark, stateDir, batchId) { prev =>
      val delta = graft.operators.TextAnalysis.hllRegisterDeltas(batch, textCol, m)
      prev match {
        case Some(p) => p.unionByName(delta)
          .groupBy(col("reg")).agg(max(col("max_rank")).as("max_rank"))
        case None => delta
      }
    }

  /** Merge one micro-batch of events into the per-day HLL register
    * state (q173/q174) — [[applyHllBatch]]'s contract with a day group
    * key: state ≤ m rows per observed day, max-merge idempotent under
    * redelivery, exactly-once per batchId. */
  def applyDayHllBatch(spark: SparkSession, batch: DataFrame,
      batchId: Long, m: Int, stateDir: String): Boolean =
    withStateVersion(spark, stateDir, batchId) { prev =>
      val delta = graft.operators.TextAnalysis.hllDeltasBy(
        batch.filter(col("user_id").isNotNull)
          .select(to_date(col("ts")).as("day"), col("user_id")),
        Seq("day"), col("user_id"), m)
      prev match {
        case Some(p) => p.unionByName(delta)
          .groupBy(col("day"), col("reg"))
          .agg(max(col("max_rank")).as("max_rank"))
        case None => delta
      }
    }

  /** Merge one micro-batch of documents into the additive
    * (class, term, tf) relation behind the c-TF-IDF profile (q172/q180)
    * — [[applyCmsBatch]]'s contract on a vocabulary-bounded state: bag
    * counts sum, exactly-once per batchId, and the same at-least-once
    * caveat (a re-delivered document inflates tf unrecoverably; dedup
    * upstream when the source overlaps). */
  def applyClassTfBatch(spark: SparkSession, batch: DataFrame,
      classCol: String, batchId: Long, stateDir: String): Boolean =
    withStateVersion(spark, stateDir, batchId) { prev =>
      val delta = graft.operators.TextAnalysis.classTermCounts(batch, classCol)
      prev match {
        case Some(p) => p.unionByName(delta)
          .groupBy(col("class"), col("term")).agg(sum(col("tf")).as("tf"))
        case None => delta
      }
    }

  /** Merge one micro-batch into an additive (group, n_docs) count state
    * — the degenerate (one cell per group) form of [[applyClassTfBatch]]'s
    * bag-count contract, and the second half of the q185 streamed
    * mixture draw (its reservoir half is [[applySampleBatch]]). Same
    * at-least-once caveat as every additive state: a re-delivered
    * document inflates its group's count unrecoverably (the batchId
    * guard stops exact replays only); dedup upstream when the source
    * overlaps. */
  def applyGroupCountBatch(spark: SparkSession, batch: DataFrame,
      groupCol: String, batchId: Long, stateDir: String): Boolean =
    withStateVersion(spark, stateDir, batchId) { prev =>
      val delta = batch.groupBy(col(groupCol)).agg(count(lit(1)).as("n_docs"))
      prev match {
        case Some(p) => p.unionByName(delta)
          .groupBy(col(groupCol)).agg(sum(col("n_docs")).as("n_docs"))
        case None => delta
      }
    }

  /** Merge one micro-batch into a persistent k-per-group priority
    * sample, exactly once per batchId ([[applyAggBatch]] contract).
    * State is (group, id) — ≤ k rows per group forever. Bottom-k by a
    * data-derived priority is MERGEABLE: the k smallest of (prior
    * bottom-k ∪ batch) equal the k smallest of everything ever seen,
    * so the drained sample is bit-identical to the one-shot draw (q155
    * carries q147's oracle to prove it) — the distributed, deterministic
    * equivalent of maintaining a reservoir sample over a stream. */
  def applySampleBatch(spark: SparkSession, batch: DataFrame, batchId: Long,
      groupCol: String, idCol: String, k: Int, stateDir: String): Boolean =
    withStateVersion(spark, stateDir, batchId) { prev =>
      val delta = batch.select(col(groupCol), col(idCol))
      // SET union, not bag union: an id re-delivered in a later batch
      // (at-least-once upstream, overlapping landing files — the batchId
      // guard only stops exact replays) would otherwise enter the state
      // twice with the same priority, tie itself into the bottom-k
      // forever, and displace a legitimately distinct pick
      val comb = prev.map(_.unionByName(delta)).getOrElse(delta)
        .dropDuplicates(groupCol, idCol)
      graft.operators.TextAnalysis.prioritySample(comb, groupCol, idCol, k)
        .select(col(groupCol), col(idCol))
    }

  /** Merge one micro-batch of documents into a persistent inverted
    * index, exactly once per batchId ([[applyAggBatch]] contract). State
    * is (term, df, posts) with posts CAPPED at maxPost (doc_id-ordered)
    * — the q135 champion-list discipline made incremental. Both halves
    * are mergeable when batches partition the corpus by document: df is
    * additive, and the lowest-maxPost doc_ids of a union equal the
    * lowest-maxPost of the per-part lowest-maxPost lists (the same
    * bottom-k mergeability as the priority sample), so the drained index
    * is bit-identical to the one-shot q135 build — q159 carries q135's
    * oracle to prove it. Per-trigger cost: one batch-token aggregate +
    * a state-sized capped merge; the corpus token stream is never
    * replayed. */
  def applyIndexBatch(spark: SparkSession, batch: DataFrame, textCol: String,
      batchId: Long, maxPost: Int, stateDir: String): Boolean =
    withStateVersion(spark, stateDir, batchId) { prev =>
      val delta = graft.operators.TextAnalysis.indexState(batch, textCol, maxPost)
      prev match {
        case Some(p) => p.unionByName(delta)
          .groupBy(col("term"))
          // SET-merge the postings (array_distinct after the sort keeps
          // sorted order): a doc_id re-delivered under a NEW batchId —
          // at-least-once upstream, overlapping landing files; the
          // batchId guard only stops exact replays — must not enter a
          // champion list twice and displace a distinct doc. df has no
          // such defense possible from capped postings alone: it is
          // additive ONLY under the documented document-disjointness
          // precondition (like CMS cell counts, applyCmsBatch above —
          // overlap inflation there is unrecoverable by construction;
          // dedup upstream if the source is at-least-once).
          .agg(sum(col("df")).as("df"),
            slice(array_distinct(array_sort(flatten(collect_list(col("posts"))))),
              1, maxPost).as("posts"))
        case None => delta
      }
    }

  /** Merge one micro-batch of (id1, id2) edges into a persistent
    * connected-components labeling, exactly once per batchId (the
    * [[applyAggBatch]] versioned `state_b<id>`/_SUCCESS contract). State
    * is the (v, label) star relation — O(vertices), never the edge
    * history: prior components re-enter the next round AS their star
    * edges (v → label; singletons as self-pairs, which the CC vertex
    * set keeps and labels as themselves), so components of
    * (stars ∪ new edges) equal components of (all edges ever seen) and
    * the per-trigger alternation converges in O(1) rounds when the
    * batch merges few components — the prior part is already star-form.
    * Cost per trigger: CC over |state| + |batch| edges, never the
    * accumulated edge stream. */
  def applyCcBatch(spark: SparkSession, batch: DataFrame, batchId: Long,
      stateDir: String): Boolean =
    withStateVersion(spark, stateDir, batchId) { prev =>
      val edges = batch.select(col("id1"), col("id2"))
      val comb = prev match {
        case Some(p) =>
          p.select(col("v").as("id1"), col("label").as("id2")).unionByName(edges)
        case None => edges
      }
      graft.operators.Dedup.connectedComponents(comb)
    }

  /** Streaming JOIN-VIEW maintenance — q138's delta algebra as a
    * standing job for the static-dimension case: fact deltas (lineitem
    * files) arrive as a stream, each micro-batch is enriched against
    * the broadcast static dimension (orders) and merged into the
    * persistent aggregate state via [[applyAggBatch]]'s versioned
    * batchId-idempotent contract. With one side static the delta
    * algebra collapses to the single leg Δ(O⋈L) = O⋈ΔL, so per-trigger
    * cost is one broadcast join over the batch + a state-sized merge —
    * the base join is never recomputed. After drain the state must
    * equal the one-shot aggregate over the FULL join (StreamingSpec
    * proves it, plus replay idempotency inherited from applyAggBatch).
    * At 100 TB the "broadcast dimension" becomes the bucketed orders
    * table and the enrich join is co-located (BucketingSpec's shape);
    * the maintenance algebra is unchanged. */
  def runStreamingJoinView(spark: SparkSession, streamDir: String,
      dimParquet: String, stateDir: String): StreamingQuery = {
    val dim = spark.read.parquet(dimParquet)
      .select(col("o_orderkey"), col("o_orderpriority"))
    foreachBatchAvailableNow(spark, streamDir, spark.read.parquet(streamDir).schema, stateDir) {
      (batch, batchId) =>
        val enriched = batch.select(col("l_orderkey"), col("l_quantity"))
          .join(broadcast(dim), col("l_orderkey") === col("o_orderkey"))
        applyAggBatch(spark, enriched, batchId,
          "o_orderpriority", "l_quantity", stateDir)
    }
  }

  /** STREAM-STREAM interval join: purchases attributed to every view by
    * the same user in the preceding 24 h — two independent readers over
    * the event stream, both watermarked, joined on user equality + a
    * two-sided event-time bound. The time bound is what makes this
    * runnable unbounded: with purchase_ts ∈ (view_ts, view_ts + 24 h]
    * and both watermarks at 1 h, Spark can discard a buffered view once
    * the purchase-side watermark passes view_ts + 24 h (and vice versa),
    * so join state is a sliding 25 h of per-user activity, not the full
    * history. Batch twin is q96 (equivalence asserted by StreamingSpec).
    * Inner join + append mode: rows emit as soon as both sides arrive. */
  def runStreamingIntervalJoin(spark: SparkSession, dir: String,
      sinkName: String): StreamingQuery =
    intervalJoin(spark, dir, sinkName, "inner")

  /** STREAM-STREAM interval join, LEFT OUTER form: every view emits —
    * joined with each purchase inside its 24 h attribution window as the
    * purchase arrives, or with NULL purchase columns once the watermark
    * PROVES no purchase can still arrive (purchase-side watermark past
    * view_ts + 24 h). That proof is exactly why outer stream-stream
    * joins require the time bound: without it "no match yet" could be
    * overturned forever and the null row could never be emitted. Null
    * rows therefore lag the data by the watermark delay; a drained
    * AvailableNow run needs one final watermark-advancing batch for the
    * last views to resolve — StreamingSpec appends a far-future sentinel
    * file for exactly that, then asserts equivalence against the batch
    * left join (q123 twin). Inner form: runStreamingIntervalJoin. */
  def runStreamingIntervalJoinLeftOuter(spark: SparkSession, dir: String,
      sinkName: String): StreamingQuery =
    intervalJoin(spark, dir, sinkName, "leftOuter")

  /** Streaming FULL OUTER interval join — completes the join-mode
    * matrix next to the inner (runStreamingIntervalJoin) and left-outer
    * (runStreamingIntervalJoinLeftOuter) forms: unconverted views AND
    * orphan purchases (no same-user view in the preceding 24 h) both
    * emit null-extended once the watermark proves their window closed.
    * State stays bounded exactly as in the other modes — the two-sided
    * time condition is what lets the watermark expire BOTH buffers,
    * which is why Spark requires it for every outer stream-stream join.
    * Batch twin q125; StreamingSpec asserts equivalence after the
    * sentinel watermark close. */
  def runStreamingIntervalJoinFullOuter(spark: SparkSession, dir: String,
      sinkName: String): StreamingQuery =
    intervalJoin(spark, dir, sinkName, "fullOuter")

  /** The three interval-join runners above, by `joinType`: views and
    * purchases read as two watermarked streams of the events in `dir`,
    * joined on user and purchase_ts ∈ (view_ts, view_ts + 24 h]. */
  private def intervalJoin(spark: SparkSession, dir: String, sinkName: String,
      joinType: String): StreamingQuery = {
    val views = eventStream(spark, dir)
      .filter(col("event_type") === "view")
      .select(col("user_id"), col("event_id").as("view_id"),
        col("ts").as("view_ts"))
      .withWatermark("view_ts", "1 hour")
    val buys = eventStream(spark, dir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
        col("ts").as("purchase_ts"))
      .withWatermark("purchase_ts", "1 hour")
    // only a full outer join emits purchases with no view (user_id null)
    val user =
      if (joinType == "fullOuter") coalesce(col("user_id"), col("p_user")).as("user_id")
      else col("user_id")
    awaitAvailableNow(views.join(buys,
        col("user_id") === col("p_user") &&
        col("purchase_ts") > col("view_ts") &&
        col("purchase_ts") <= col("view_ts") + expr("INTERVAL 24 HOURS"),
        joinType)
      .select(user, col("view_id"), col("purchase_id"),
        (unix_timestamp(col("purchase_ts")) - unix_timestamp(col("view_ts")))
          .as("gap_s"))
      .writeStream
      .queryName(sinkName)
      .format("memory")
      .outputMode("append"))
  }

  /** Merge one micro-batch of documents into the additive (tid, cnt)
    * token-distribution state under the FROZEN tokenizer trained on
    * `corpusDir` (loaded from the persisted artifact — never refit on
    * the stream: drift monitoring only means anything against a fixed
    * vocabulary), exactly once per batchId ([[applyCmsBatch]]'s
    * contract on a vocabulary-bounded state, same additive overlap
    * caveat). Per-trigger cost: one batch encode + a ≤|vocab|-row
    * merge. */
  def applyTokenCountBatch(spark: SparkSession, batch: DataFrame,
      batchId: Long, corpusDir: String, k: Int, stateDir: String): Boolean =
    withStateVersion(spark, stateDir, batchId) { prev =>
      val model = graft.operators.TextAnalysis.bpeModel(spark, corpusDir, k)
      val delta = graft.operators.TextAnalysis.tokenCounts(batch, model)
      prev match {
        case Some(p) => p.unionByName(delta)
          .groupBy(col("tid")).agg(sum(col("cnt")).as("cnt"))
        case None => delta
      }
    }

  /** Merge one micro-batch of reference-slice documents into the
    * additive (w1, w2, c2) bigram-count LM state, exactly once per
    * batchId ([[applyTokenCountBatch]]'s contract). The whole
    * interpolated LM — context marginals, unigram counts, (T, V)
    * totals — derives from this ONE n-gram-bounded relation on read
    * ([[graft.operators.LanguageModel]]), so the per-trigger cost is a
    * batch bigram count + one merge of two Heaps-bounded relations.
    * Additive overlap caveat as there. */
  def applyLmCountBatch(spark: SparkSession, batch: DataFrame,
      batchId: Long, stateDir: String): Boolean =
    withStateVersion(spark, stateDir, batchId) { prev =>
      val delta = graft.operators.LanguageModel.bigramCounts(batch)
      prev match {
        case Some(p) => p.unionByName(delta)
          .groupBy(col("w1"), col("w2")).agg(sum(col("c2")).as("c2"))
        case None => delta
      }
    }

  /** Merge one micro-batch of raw documents into the persistent
    * curation-pipeline state, exactly once per batchId (the
    * [[applyAggBatch]] versioned contract). State is TWO relations in
    * one parquet, discriminated by `rel`:
    *   'in' — (doc_id, n_tok, rk): the input-manifest counters,
    *     SET-deduped by doc_id, so overlapping at-least-once redelivery
    *     is a no-op (not just exact replays, unlike the additive CMS);
    *   's1' — the accumulated post-gate survivor corpus, merged as
    *     gate(prev ∪ batch): exact because the heuristic gates are
    *     per-document and the content-fp keep-richest is an associative
    *     argmax ([[graft.plans.CurationPipeline.gateStage]]) — the
    *     committed state equals the batch pipeline's s1 over everything
    *     seen, under ANY arrival order and ANY redelivery overlap.
    * The global suffix (near-dup, excision, decontamination, split,
    * mixture, pack) is DERIVED from the committed gate state on read
    * ([[latestCurationManifest]]): those stages are corpus-global by
    * semantics — a later-arriving benchmark doc decontaminates an
    * earlier survivor, a later near-dup evicts one — so per-trigger
    * "incremental" maintenance would recompute state-sized relations
    * anyway; deriving on read keeps per-trigger cost at the two
    * state+batch merges and still yields the exact batch manifest
    * (StreamingSpec proves drained == q193 plus replay AND overlap
    * idempotency). At 100 TB the s1 state is a bucketed table merged by
    * content-fp delta instead of a full rewrite; the read-time suffix
    * is the same compute the batch pipeline runs from its s1 stage. */
  def applyCurationBatch(spark: SparkSession, batch: DataFrame,
      batchId: Long, stateDir: String): Boolean =
    withStateVersion(spark, stateDir, batchId, coalesceOne = false) { prev =>
      import graft.plans.CurationPipeline
      val b = batch.select(col("doc_id"), col("text"), col("lang"), col("source"))
      val inDelta = b.select(lit("in").as("rel"), col("doc_id"),
        lit(null).cast("string").as("text"),
        lit(null).cast("string").as("lang"),
        lit(null).cast("string").as("source"),
        size(toks(col("text"))).cast("long").as("n_tok"),
        CurationPipeline.rowKey(col("doc_id"), col("text")).as("rk"),
        lit(null).cast("string").as("fp"))
      val mergedIn = prev.map(_.filter(col("rel") === "in"))
        .getOrElse(inDelta.limit(0))
        .unionByName(inDelta).dropDuplicates("doc_id")
      // Incremental gate (optimization r17, guide §2.4): the r16 form
      // re-ran gateStage over prevS1 ∪ batch — the per-doc heuristic
      // metrics (tokenize, dup-line, top-2-gram) were recomputed for
      // the WHOLE accumulated state on every trigger, O(total) work
      // per batch. The heuristics are per-document (state rows passed
      // them by construction) and the content-fp dedup is an
      // associative argmax on (n_tok DESC, doc_id ASC), so the state
      // now carries each survivor's (fp, n_tok) and a trigger pays:
      // gate metrics over the BATCH ONLY + one |state|+|batch| argmax
      // merge. Exactly gate(prev ∪ batch) under any arrival order and
      // redelivery overlap (same associativity argument as before;
      // StreamingSpec proves drained == q193 plus both replay arms).
      val gatedB = graft.operators.TextAnalysis.corpusGateDeduped(b)
        .select(col("doc_id"), col("fp"), col("n_tok").cast("long").as("n_tok"))
      val bS1 = b.join(gatedB, Seq("doc_id"))
        .select(col("doc_id"), col("text"), col("lang"), col("source"),
          col("fp"), col("n_tok"))
      val prevS1 = prev.map(_.filter(col("rel") === "s1")
          .select(col("doc_id"), col("text"), col("lang"), col("source"),
            col("fp"), col("n_tok")))
        .getOrElse(bS1.limit(0))
      val s1 = prevS1.unionByName(bS1)
        .groupBy(col("fp"))
        .agg(max(struct(col("n_tok"), (-col("doc_id")).as("ni"),
          col("doc_id"), col("text"), col("lang"), col("source"))).as("m"))
        .select(col("m.doc_id").as("doc_id"), col("m.text").as("text"),
          col("m.lang").as("lang"), col("m.source").as("source"),
          col("fp"), col("m.n_tok").as("n_tok"))
      mergedIn.unionByName(
        s1.select(lit("s1").as("rel"), col("doc_id"), col("text"),
          col("lang"), col("source"), col("n_tok"),
          lit(null).cast("long").as("rk"), col("fp")))
    }

  /** The q193 manifest over everything the curation state has folded so
    * far — derived from the latest committed version; None before any
    * batch. */
  def latestCurationManifest(spark: SparkSession, stateDir: String,
      corpusDir: String, budget: Int): Option[(Long, DataFrame)] =
    latestAggState(spark, stateDir).map { case (bid, st) =>
      (bid, graft.plans.CurationPipeline.manifestFromState(
        spark, corpusDir, st, budget)) }

  /** Streaming exact dedup: first event per (user_id, event_type), state
    * bounded by a 1-day watermark — dropDuplicates-with-watermark, the
    * streaming form of the batch keep-first window (q72). */
  def runStreamingDedup(spark: SparkSession, dir: String, sinkName: String): StreamingQuery =
    awaitAvailableNow(eventStream(spark, dir)
      .withWatermark("ts", "1 day")
      .dropDuplicates("user_id", "event_type")
      .select(col("user_id"), col("event_type"))
      .writeStream
      .queryName(sinkName)
      .format("memory")
      .outputMode("append"))
}
