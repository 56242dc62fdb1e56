package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.functions._
import graft.streaming.StreamingJobs

/** The streaming plans produce the same answers as their batch
  * equivalents on the same events (SURVEY §2.10 / build-plan step 8). */
class StreamingSpec extends SparkSpec {

  private lazy val streamDir: String = {
    val dir = Files.createTempDirectory("graft_events_stream")
    Files.copy(
      Paths.get(s"$sfTiny/events.parquet"),
      dir.resolve("events.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    dir.toString
  }

  test("streaming windowed agg (watermark + availableNow) == batch q70") {
    StreamingJobs.runWindowedAgg(spark, streamDir, "win_agg_test")
    val streamed = spark.table("win_agg_test")
      .orderBy(col("win_start"), col("event_type")).collect()
    val batch = operators.Events.q70EventWindow.run(spark, sfTiny).collect()
    assert(streamed.length == batch.length)
    streamed.zip(batch).foreach { case (a, b) =>
      assert(a.getTimestamp(0) == b.getTimestamp(0))
      assert(a.getString(1) == b.getString(1))
      assert(a.getLong(2) == b.getLong(2))
      assert(math.abs(a.getDouble(3) - b.getDouble(3)) < 1e-9)
    }
  }

  test("flatMapGroupsWithState sessionizer == batch q71 per-user sessions") {
    graft.streaming.Sessionizer.run(spark, streamDir, "sess_test")
    // one row per update; counts are monotonic, so max = final state
    val streamed = spark.table("sess_test")
      .groupBy(col("user_id"))
      .agg(max(col("n_sessions")).as("ns"), max(col("n_events")).as("ne"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val batch = operators.Events.q71Sessionize.run(spark, sfTiny)
      .select(col("user_id"), col("n_sessions"), col("n_events"))
      .collect().map(r => (r.getLong(0), r.getLong(1).toInt, r.getLong(2))).toSet
    assert(streamed == batch)
  }

  test("streaming near-dup vs static corpus: recall >= 0.9 of exact pairs") {
    val dir = java.nio.file.Files.createTempDirectory("graft_emb_stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sfTiny/embeddings.parquet"),
      dir.resolve("embeddings.parquet"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    graft.streaming.StreamingJobs.runStreamingNearDup(
      spark, dir.toString, sfTiny, threshold = 0.35, "neardup_stream_test")
    // streamed pairs are directional (new vs corpus); canonicalize
    val streamed = spark.table("neardup_stream_test")
      .select(least(col("vec_id"), col("cid")).as("id1"),
        greatest(col("vec_id"), col("cid")).as("id2"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = operators.Similarity.nearDupPairs(spark, sfTiny, 0.35)
      .select(col("id1"), col("id2")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = exact.count(streamed.contains).toDouble / exact.size
    assert(recall >= 0.9, s"streaming near-dup recall $recall")
    // and no false positives below threshold
    assert(spark.table("neardup_stream_test")
      .filter(col("sim") < 0.35).count() == 0)
  }

  test("sessionizer boundary semantics: truncated-second gap + out-of-order clamp") {
    val ss = spark
    import ss.implicits._
    val dir = Files.createTempDirectory("graft_sess_boundary")
    val base = 1700000000L // whole-second epoch
    def writeOne(rows: Seq[(Long, Long)], name: String, mtime: Long): Unit = {
      val tmp = Files.createTempDirectory("graft_sess_part")
      rows.toDF("user_id", "ts").coalesce(1)
        .write.mode("overwrite").parquet(tmp.toString)
      val part = new java.io.File(tmp.toString).listFiles()
        .find(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("_")).get
      val dest = new java.io.File(dir.toFile, name)
      Files.move(part.toPath, dest.toPath, StandardCopyOption.REPLACE_EXISTING)
      assert(dest.setLastModified(mtime))
    }
    val sec = 1000000000L // ns per second
    // user 1: true gap 86400.9 s but TRUNCATED-second diff is exactly
    // 86400 -> batch q71 (unix_timestamp diff) says SAME session; the
    // old raw-microsecond compare wrongly opened a new one.
    // user 2: file B delivers a LATE event (base+50s) after file A already
    // advanced the clock to base+100000s; without the clamp the rewound
    // lastTs makes the next event (base+100010s) open a spurious session.
    writeOne(Seq(
      (1L, base * sec),
      (1L, (base + 86400L) * sec + 900000000L),
      (2L, base * sec),
      (2L, (base + 100000L) * sec)), "a.parquet", System.currentTimeMillis() - 60000)
    writeOne(Seq(
      (2L, (base + 50L) * sec),
      (2L, (base + 100010L) * sec)), "b.parquet", System.currentTimeMillis())
    graft.streaming.Sessionizer.run(spark, dir.toString, "sess_boundary_test")
    val res = spark.table("sess_boundary_test")
      .groupBy(col("user_id"))
      .agg(max(col("n_sessions")).as("ns"), max(col("n_events")).as("ne"))
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getLong(2)))).toMap
    assert(res(1L) == ((1, 2)), s"user 1 boundary gap: ${res(1L)}")
    assert(res(2L) == ((2, 4)), s"user 2 out-of-order clamp: ${res(2L)}")
  }

  test("sessionizer state expires via event-time timeout and is rebuilt on return") {
    val ss = spark
    import ss.implicits._
    val dir = Files.createTempDirectory("graft_sess_timeout")
    val base = 1700000000L
    val sec = 1000000000L // ns per second
    val day = 86400L
    def writeOne(rows: Seq[(Long, Long)], name: String, mtime: Long): Unit = {
      val tmp = Files.createTempDirectory("graft_sess_part2")
      rows.toDF("user_id", "ts").coalesce(1)
        .write.mode("overwrite").parquet(tmp.toString)
      val part = new java.io.File(tmp.toString).listFiles()
        .find(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("_")).get
      val dest = new java.io.File(dir.toFile, name)
      Files.move(part.toPath, dest.toPath, StandardCopyOption.REPLACE_EXISTING)
      assert(dest.setLastModified(mtime))
    }
    val now = System.currentTimeMillis()
    // A: user 1 (2 events, one session) + user 2; B,C: only user 2, with
    // event times far past user 1's idle horizon -> the advancing
    // watermark must TIME OUT user 1's state (final emission + removal);
    // D: user 1 returns -> a fresh state, not a continuation.
    writeOne(Seq((1L, base * sec), (1L, (base + 60) * sec),
      (2L, base * sec)), "a.parquet", now - 90000)
    writeOne(Seq((2L, (base + 5 * day) * sec)), "b.parquet", now - 60000)
    writeOne(Seq((2L, (base + 5 * day + 3600) * sec)), "c.parquet", now - 30000)
    writeOne(Seq((1L, (base + 6 * day) * sec)), "d.parquet", now)
    graft.streaming.Sessionizer.run(spark, dir.toString, "sess_timeout_test")
    val u1 = spark.table("sess_timeout_test")
      .filter(col("user_id") === 1L)
      .select(col("n_sessions"), col("n_events"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSeq.sorted
    // batch A emission (1,2), timeout emission (1,2), post-return fresh
    // state (1,1). A surviving (un-expired) state would instead continue
    // to (2 sessions, 3 events).
    assert(u1 == Seq((1, 1L), (1, 2L), (1, 2L)),
      s"user 1 emissions $u1 — state did not expire + rebuild as required")
  }

  test("streaming index add (foreachBatch) == batch cell assignment") {
    val streamDir = Files.createTempDirectory("graft_ivf_stream")
    Files.copy(Paths.get(s"$sfTiny/embeddings.parquet"),
      streamDir.resolve("embeddings.parquet"), StandardCopyOption.REPLACE_EXISTING)
    val outDir = Files.createTempDirectory("graft_ivf_add_out").toString
    graft.streaming.StreamingJobs.runStreamingIndexAdd(
      spark, streamDir.toString, sfTiny, outDir)
    val streamed = spark.read.parquet(outDir)
      .select(col("vec_id"), col("centroid_id")).collect()
      .map(r => (r.getLong(0), r.getInt(1))).toMap
    val (assigned, _) = operators.Ann.ivfIndex(spark, sfTiny)
    val batch = assigned.select(col("vec_id"), col("centroid_id")).collect()
      .map(r => (r.getLong(0), r.getInt(1))).toMap
    assert(streamed == batch,
      s"streamed assignment diverges from batch (${streamed.size} vs ${batch.size} rows)")
    // at-least-once replay: the committed batch partition must no-op
    val replayed = graft.streaming.StreamingJobs.applyIndexAddBatch(
      spark, spark.read.parquet(s"$streamDir/embeddings.parquet"), 0L, sfTiny, outDir)
    assert(!replayed, "replayed batchId was applied instead of skipped")
    assert(spark.read.parquet(outDir).count() == batch.size,
      "replay changed the committed sink")
  }

  test("streaming NSW graph index-add == one-shot rebuild; replay is a no-op") {
    val all = spark.read.parquet(s"$sfTiny/embeddings.parquet")
    val maxId = all.agg(max(col("vec_id"))).head.getLong(0)
    val (cut1, cut2) = ((maxId * 3) / 5, (maxId * 4) / 5)
    // corpus dir: the base 60% as its own dataset
    val corpusDir = Files.createTempDirectory("graft_nsw_corpus").toString
    all.filter(col("vec_id") <= cut1).coalesce(1)
      .write.mode("overwrite").parquet(s"$corpusDir/embeddings.parquet")
    // stream dir: two id-ordered increment files = two micro-batches
    val streamDir = Files.createTempDirectory("graft_nsw_stream")
    def writeFile(df: org.apache.spark.sql.DataFrame, name: String, mtime: Long): Unit = {
      val tmp = Files.createTempDirectory("graft_nsw_part").resolve("p").toString
      df.coalesce(1).write.parquet(tmp)
      val part = Files.list(Paths.get(tmp))
        .filter(_.toString.endsWith(".parquet")).findFirst().get()
      Files.copy(part, streamDir.resolve(name))
      streamDir.resolve(name).toFile.setLastModified(mtime)
    }
    writeFile(all.filter(col("vec_id") > cut1 && col("vec_id") <= cut2), "a_inc1.parquet", 1000000L)
    writeFile(all.filter(col("vec_id") > cut2), "b_inc2.parquet", 2000000L)
    val stateDir = Files.createTempDirectory("graft_nsw_state").toString
    StreamingJobs.runStreamingGraphIndexAdd(spark, streamDir.toString, corpusDir, stateDir)

    def canon(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getSeq[Double](2).toList,
        r.getSeq[Long](3).toList))
      .sortBy(x => (x._1, x._2)).toList
    val Some((lastBatch, state)) = StreamingJobs.latestAggState(spark, stateDir)
    val rebuilt = operators.Nsw.graphsForFrame(
      all.select(col("vec_id"), col("embedding")))
    assert(canon(state) == canon(rebuilt),
      "drained streaming index diverges from the one-shot rebuild")
    // at-least-once replay: re-applying the last committed batch no-ops
    val replayed = StreamingJobs.applyGraphBatch(spark,
      all.filter(col("vec_id") > cut2), lastBatch, corpusDir, stateDir)
    assert(!replayed, "replayed batchId was applied instead of skipped")
    assert(canon(StreamingJobs.latestAggState(spark, stateDir).get._2) == canon(rebuilt),
      "state changed under a replayed batch")
  }

  test("streaming incremental text dedup == batch q69 (id-ordered increments)") {
    // batch q69 shape: corpus = doc_id % 7 != 0, increment = % 7 == 0.
    // Split the increment into two id-ordered files so the equivalence
    // crosses a micro-batch boundary (cross-trigger domination works via
    // the accumulated _seen reference).
    val work = Files.createTempDirectory("graft_textdedup").toString
    val docs = Tables.documents(spark, sfTiny)
      .select(col("doc_id"), col("source"), col("text"))
    val maxId = docs.agg(max(col("doc_id"))).head().getLong(0)
    docs.filter(col("doc_id") % 7 =!= 0)
      .coalesce(1).write.parquet(s"$work/corpus")
    val streamDir = Files.createTempDirectory("graft_textdedup_stream")
    docs.filter(col("doc_id") % 7 === 0 && col("doc_id") <= maxId / 2)
      .coalesce(1).write.parquet(s"$work/b1")
    docs.filter(col("doc_id") % 7 === 0 && col("doc_id") > maxId / 2)
      .coalesce(1).write.parquet(s"$work/b2")
    def firstPart(dir: String): java.nio.file.Path =
      Files.list(Paths.get(dir)).filter(_.toString.endsWith(".parquet")).findFirst().get()
    // file mtimes order the triggers: b1 (low ids) first
    val f1 = Files.copy(firstPart(s"$work/b1"), streamDir.resolve("b1.parquet"))
    val f2 = Files.copy(firstPart(s"$work/b2"), streamDir.resolve("b2.parquet"))
    f1.toFile.setLastModified(1000000L)
    f2.toFile.setLastModified(2000000L)

    val outDir = Files.createTempDirectory("graft_textdedup_out").toString
    StreamingJobs.runStreamingTextDedup(
      spark, streamDir.toString, s"$work/corpus", outDir, threshold = 0.8)
    val streamed = spark.read.parquet(s"$outDir/survivors")
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    val batch = operators.Dedup
      .incrementalDedupSurvivors(spark, sfTiny, col("doc_id") % 7 === 0, 0.8)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(streamed == batch,
      s"streamed survivors diverge: ${(streamed -- batch).size} extra, ${(batch -- streamed).size} missing")
    // at-least-once replay of the last micro-batch (batchId 1 = b2):
    // committed _seen partition gates it to a no-op
    val replayed = StreamingJobs.applyTextDedupBatch(spark,
      docs.filter(col("doc_id") % 7 === 0 && col("doc_id") > maxId / 2), 1L,
      spark.read.parquet(s"$work/corpus"), outDir, threshold = 0.8)
    assert(!replayed, "replayed batchId was applied instead of skipped")
    assert(spark.read.parquet(s"$outDir/survivors")
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet == batch,
      "replay changed the committed survivor set")
  }

  test("streaming incremental agg state == one-shot batch aggState after drain") {
    // two micro-batches of events, state-merged per trigger; the final
    // state table must equal aggState over the full table (q107's
    // associativity, exercised through the streaming read-merge-swap loop)
    val work = Files.createTempDirectory("graft_incragg").toString
    val ev = Tables.events(spark, sfTiny)
      .select(col("event_id"), col("event_type"), col("value"))
    ev.filter(col("event_id") % 2 === 0).coalesce(1).write.parquet(s"$work/b1")
    ev.filter(col("event_id") % 2 =!= 0).coalesce(1).write.parquet(s"$work/b2")
    def firstPart(dir: String): java.nio.file.Path =
      Files.list(Paths.get(dir)).filter(_.toString.endsWith(".parquet")).findFirst().get()
    val streamDir2 = Files.createTempDirectory("graft_incragg_stream")
    val g1 = Files.copy(firstPart(s"$work/b1"), streamDir2.resolve("b1.parquet"))
    val g2 = Files.copy(firstPart(s"$work/b2"), streamDir2.resolve("b2.parquet"))
    g1.toFile.setLastModified(1000000L)
    g2.toFile.setLastModified(2000000L)
    val stateDir = s"$work/state"
    StreamingJobs.runStreamingIncrementalAgg(
      spark, streamDir2.toString, "event_type", "value", stateDir)
    def snap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getLong(1),
        math.round(r.getDouble(2) * 1e6), r.getDouble(3), r.getDouble(4))).toSet
    val (lastBatchId, stateDf) = StreamingJobs.latestAggState(spark, stateDir).get
    assert(lastBatchId == 1L, s"expected two committed batches, last=$lastBatchId")
    val streamed = snap(stateDf
      .select(col("event_type"), col("cnt"), col("sum_v"), col("min_v"), col("max_v")))
    val batch = snap(plans.Scale.aggState(ev, "event_type", "value")
      .select(col("event_type"), col("cnt"), col("sum_v"), col("min_v"), col("max_v")))
    assert(streamed.nonEmpty)
    assert(streamed == batch, s"state diverges: $streamed vs $batch")
  }

  test("live runner resumes from its checkpoint: a late file with an older mtime folds once") {
    // A and B drain; then C lands with an mtime a minute before A's
    // (inside the file source's 7-day maxFileAge) and the runner is
    // re-run on the same state dir. Without a kept stream checkpoint the
    // re-run renumbers from batchId 0 in mtime order — C takes A's
    // committed id and is skipped, B is shifted to a new id and merged
    // twice.
    val work = Files.createTempDirectory("graft_resume").toString
    val ev = Tables.events(spark, sfTiny)
      .select(col("event_id"), col("event_type"), col("value"))
    val streamDir = Files.createTempDirectory("graft_resume_stream")
    def land(i: Int, name: String, mtime: Long): Unit = {
      ev.filter(col("event_id") % 3 === i).coalesce(1).write.parquet(s"$work/p$i")
      val part = Files.list(Paths.get(s"$work/p$i"))
        .filter(_.toString.endsWith(".parquet")).findFirst().get()
      Files.copy(part, streamDir.resolve(name)).toFile.setLastModified(mtime)
    }
    val stateDir = s"$work/state"
    def run(): Unit = StreamingJobs.runStreamingIncrementalAgg(
      spark, streamDir.toString, "event_type", "value", stateDir)
    land(0, "a.parquet", 1000000L)
    land(1, "b.parquet", 2000000L)
    run()
    land(2, "c.parquet", 1000000L - 60000L)
    run()
    def snap(df: org.apache.spark.sql.DataFrame) =
      df.select(col("event_type"), col("cnt"), col("sum_v"), col("min_v"), col("max_v"))
        .collect().map(r => (r.getString(0), r.getLong(1),
          math.round(r.getDouble(2) * 1e6), r.getDouble(3), r.getDouble(4))).toSet
    val (lastBatchId, stateDf) = StreamingJobs.latestAggState(spark, stateDir).get
    assert(lastBatchId == 2L, s"expected three committed batches, last=$lastBatchId")
    val streamed = snap(stateDf)
    val batch = snap(plans.Scale.aggState(ev, "event_type", "value"))
    assert(streamed == batch, "state after the re-run diverges from one-shot aggState")
  }

  test("streaming join-view maintenance == one-shot aggregate over the full join") {
    val work = Files.createTempDirectory("graft_joinview").toString
    val li = Tables.lineitem(spark, sfTiny)
      .select(col("l_orderkey"), col("l_quantity"))
    val orders = Tables.orders(spark, sfTiny)
      .select(col("o_orderkey"), col("o_orderpriority"))
    orders.coalesce(1).write.parquet(s"$work/orders")
    li.filter(col("l_orderkey") % 2 === 0).coalesce(1).write.parquet(s"$work/b1")
    li.filter(col("l_orderkey") % 2 =!= 0).coalesce(1).write.parquet(s"$work/b2")
    def firstPart(dir: String): java.nio.file.Path =
      Files.list(Paths.get(dir)).filter(_.toString.endsWith(".parquet")).findFirst().get()
    val streamDir = Files.createTempDirectory("graft_joinview_stream")
    val h1 = Files.copy(firstPart(s"$work/b1"), streamDir.resolve("b1.parquet"))
    val h2 = Files.copy(firstPart(s"$work/b2"), streamDir.resolve("b2.parquet"))
    h1.toFile.setLastModified(1000000L)
    h2.toFile.setLastModified(2000000L)
    val stateDir = s"$work/state"
    StreamingJobs.runStreamingJoinView(
      spark, streamDir.toString, s"$work/orders", stateDir)
    def snap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getLong(1),
        math.round(r.getDouble(2) * 1e6), r.getDouble(3), r.getDouble(4))).toSet
    val (lastBatchId, stateDf) = StreamingJobs.latestAggState(spark, stateDir).get
    assert(lastBatchId == 1L, s"expected two committed batches, last=$lastBatchId")
    val streamed = snap(stateDf.select(col("o_orderpriority"), col("cnt"),
      col("sum_v"), col("min_v"), col("max_v")))
    val batch = snap(plans.Scale.aggState(
        li.join(orders, col("l_orderkey") === col("o_orderkey")),
        "o_orderpriority", "l_quantity")
      .select(col("o_orderpriority"), col("cnt"), col("sum_v"),
        col("min_v"), col("max_v")))
    assert(streamed.nonEmpty)
    assert(streamed == batch, s"maintained view diverges: $streamed vs $batch")
  }

  test("applyAggBatch: replayed batchId is a no-op; uncommitted versions invisible") {
    val work = Files.createTempDirectory("graft_idem").toString
    val ev = Tables.events(spark, sfTiny)
      .select(col("event_id"), col("event_type"), col("value"))
    val b0 = ev.filter(col("event_id") % 2 === 0)
    val b1 = ev.filter(col("event_id") % 2 =!= 0)
    val stateDir = s"$work/state"
    def snap() = {
      val (bid, df) = StreamingJobs.latestAggState(spark, stateDir).get
      (bid, df.select(col("event_type"), col("cnt"), col("sum_v"),
          col("min_v"), col("max_v")).collect()
        .map(r => (r.getString(0), r.getLong(1), math.round(r.getDouble(2) * 1e6),
          r.getDouble(3), r.getDouble(4))).toSet)
    }
    assert(StreamingJobs.applyAggBatch(spark, b0, 0L, "event_type", "value", stateDir))
    assert(StreamingJobs.applyAggBatch(spark, b1, 1L, "event_type", "value", stateDir))
    val once = snap()
    // at-least-once replay of the SAME batch: must not double-merge
    assert(!StreamingJobs.applyAggBatch(spark, b1, 1L, "event_type", "value", stateDir))
    // replay of an OLDER batch after a newer one committed: also a no-op
    assert(!StreamingJobs.applyAggBatch(spark, b0, 0L, "event_type", "value", stateDir))
    assert(snap() == once, "replay changed the state")
    // crash simulation: a later version dir WITHOUT _SUCCESS (writer died
    // mid-commit) must be invisible to readers...
    val junk = Paths.get(stateDir, "state_b7")
    Files.createDirectories(junk)
    Files.write(junk.resolve("part-00000-junk.parquet"), Array[Byte](1, 2, 3))
    assert(StreamingJobs.latestAggState(spark, stateDir).get._1 == 1L,
      "uncommitted version leaked into reads")
    // ...and the retried batch overwrites the debris cleanly
    assert(StreamingJobs.applyAggBatch(
      spark, ev.filter(lit(false)), 7L, "event_type", "value", stateDir))
    val after = snap()
    assert(after._1 == 7L)
    assert(after._2 == once._2, "empty retried batch changed aggregate values")
  }

  test("streaming windowed approx-distinct within HLL error of batch exact per window") {
    StreamingJobs.runStreamingWindowedDistinct(spark, streamDir, "wdist_test")
    val streamed = spark.table("wdist_test").collect()
      .map(r => r.getAs[java.sql.Timestamp]("w_start") ->
        r.getAs[Long]("approx_users")).toMap
    val exact = Tables.eventsWithTs(spark, sfTiny)
      .groupBy(window(col("ts"), "1 hour"))
      .agg(countDistinct(col("user_id")).as("n"))
      .select(col("window.start").as("w_start"), col("n")).collect()
      .map(r => r.getAs[java.sql.Timestamp]("w_start") -> r.getAs[Long]("n")).toMap
    assert(streamed.keySet == exact.keySet, "window sets diverge")
    exact.foreach { case (w, n) =>
      val a = streamed(w)
      assert(math.abs(a - n).toDouble / n <= 0.06, // 3x rsd=0.02
        s"window $w: approx $a vs exact $n")
    }
  }

  test("stream-stream interval join == batch q96 attribution pairs") {
    StreamingJobs.runStreamingIntervalJoin(spark, streamDir, "interval_join_test")
    val streamed = spark.table("interval_join_test")
      .select(col("view_id"), col("purchase_id"), col("gap_s")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val batch = operators.Events.q96IntervalJoin.run(spark, sfTiny)
      .select(col("view_id"), col("purchase_id"), col("gap_s")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(batch.nonEmpty)
    assert(streamed == batch,
      s"interval join diverges: ${(streamed -- batch).size} extra, ${(batch -- streamed).size} missing")
  }

  /** Far-future (max ts + 40 days) sentinel literal in the events file's
    * own ts representation — epoch-nanos LONG for the old testdata
    * generation, timestamp[us] NTZ for the current one — so the sentinel
    * file unions/streams against the real file without a schema clash. */
  private def farFutureTs(raw: org.apache.spark.sql.DataFrame): org.apache.spark.sql.Column =
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        lit(raw.agg(max(col("ts"))).head.getLong(0) +
          40L * 24 * 3600 * 1000L * 1000L * 1000L)
      case org.apache.spark.sql.types.TimestampNTZType =>
        lit(raw.agg(max(col("ts"))).head
          .getAs[java.time.LocalDateTime](0).plusDays(40))
      case _ => // TimestampType: java.sql.Timestamp row value
        lit(java.sql.Timestamp.from(raw.agg(max(col("ts"))).head
          .getTimestamp(0).toInstant.plus(java.time.Duration.ofDays(40))))
    }

  test("stream-stream LEFT OUTER interval join == batch q123 after watermark close") {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val dir = Files.createTempDirectory("graft_events_lo")
    Files.copy(Paths.get(s"$sfTiny/events.parquet"), dir.resolve("events.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    dir.resolve("events.parquet").toFile.setLastModified(1000000L)
    // Sentinel micro-batch: one far-future view + purchase (user_id -1)
    // processed LAST, pushing both watermarks past every real view's
    // 24 h window so the unmatched-view null rows actually emit before
    // the AvailableNow run drains.
    val raw = spark.read.parquet(s"$sfTiny/events.parquet")
    val one = raw.limit(1)
    val sent = one.withColumn("event_type", lit("view"))
      .unionByName(one.withColumn("event_type", lit("purchase")))
      .withColumn("ts", farFutureTs(raw))
      .withColumn("user_id", lit(-1L).cast(one.schema("user_id").dataType))
      .withColumn("event_id", lit(-1L).cast(one.schema("event_id").dataType))
    val tmp = Files.createTempDirectory("graft_lo_sent").resolve("s").toString
    sent.coalesce(1).write.parquet(tmp)
    val part = Files.list(Paths.get(tmp))
      .filter(_.toString.endsWith(".parquet")).findFirst().get()
    Files.copy(part, dir.resolve("zz_sentinel.parquet"))
    dir.resolve("zz_sentinel.parquet").toFile.setLastModified(2000000L)
    StreamingJobs.runStreamingIntervalJoinLeftOuter(spark, dir.toString, "lo_join_test")
    def shape(r: org.apache.spark.sql.Row) =
      (r.getLong(0), if (r.isNullAt(1)) Long.MinValue else r.getLong(1),
        if (r.isNullAt(2)) Long.MinValue else r.getLong(2))
    val streamed = spark.table("lo_join_test")
      .filter(col("user_id") >= 0) // drop the sentinel's own unmatched row
      .select(col("view_id"), col("purchase_id"), col("gap_s")).collect()
      .map(shape).toSet
    val batch = operators.Events.q123LeftOuterAttrib.run(spark, sfTiny)
      .select(col("view_id"), col("purchase_id"), col("gap_s")).collect()
      .map(shape).toSet
    assert(batch.exists(_._2 == Long.MinValue),
      "fixture has no unconverted views — test would not exercise null emission")
    assert(streamed == batch,
      s"left-outer join diverges: ${(streamed -- batch).size} extra, ${(batch -- streamed).size} missing")
  }

  test("stream-stream FULL OUTER interval join == batch q125 after watermark close") {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val dir = Files.createTempDirectory("graft_events_fo")
    Files.copy(Paths.get(s"$sfTiny/events.parquet"), dir.resolve("events.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    dir.resolve("events.parquet").toFile.setLastModified(1000000L)
    // same sentinel trick as the left-outer test: a far-future view +
    // purchase (user -1) processed last pushes both watermarks past
    // every real event's window so ALL null-extended rows emit
    val raw = spark.read.parquet(s"$sfTiny/events.parquet")
    val one = raw.limit(1)
    val sent = one.withColumn("event_type", lit("view"))
      .unionByName(one.withColumn("event_type", lit("purchase")))
      .withColumn("ts", farFutureTs(raw))
      .withColumn("user_id", lit(-1L).cast(one.schema("user_id").dataType))
      .withColumn("event_id", lit(-1L).cast(one.schema("event_id").dataType))
    val tmp = Files.createTempDirectory("graft_fo_sent").resolve("s").toString
    sent.coalesce(1).write.parquet(tmp)
    val part = Files.list(Paths.get(tmp))
      .filter(_.toString.endsWith(".parquet")).findFirst().get()
    Files.copy(part, dir.resolve("zz_sentinel.parquet"))
    dir.resolve("zz_sentinel.parquet").toFile.setLastModified(2000000L)
    StreamingJobs.runStreamingIntervalJoinFullOuter(spark, dir.toString, "fo_join_test")
    def shape(r: org.apache.spark.sql.Row) =
      (if (r.isNullAt(0)) Long.MinValue else r.getLong(0),
        if (r.isNullAt(1)) Long.MinValue else r.getLong(1),
        if (r.isNullAt(2)) Long.MinValue else r.getLong(2))
    val streamed = spark.table("fo_join_test")
      .filter(col("user_id") >= 0) // drop the sentinel's own two rows
      .select(col("view_id"), col("purchase_id"), col("gap_s")).collect()
      .map(shape).toSet
    val batch = operators.Events.q125FullOuterAttrib.run(spark, sfTiny)
      .select(col("view_id"), col("purchase_id"), col("gap_s")).collect()
      .map(shape).toSet
    assert(batch.exists(_._1 == Long.MinValue),
      "fixture has no orphan purchases — full-outer adds nothing over left-outer here")
    assert(batch.exists(_._2 == Long.MinValue),
      "fixture has no unconverted views — null emission unexercised")
    assert(streamed == batch,
      s"full-outer join diverges: ${(streamed -- batch).size} extra, ${(batch -- streamed).size} missing")
  }

  test("applyCcBatch: chain merges across batches; replay is a no-op; == one-shot CC") {
    val ss = spark
    import ss.implicits._
    val stateDir = Files.createTempDirectory("graft_cc_idem").toString
    // batch 0: two separate 2-chains; batch 1 bridges them and adds an
    // isolated self-pair vertex
    val b0 = Seq((0L, 1L), (2L, 3L)).toDF("id1", "id2")
    val b1 = Seq((1L, 2L), (7L, 7L)).toDF("id1", "id2")
    def snap() = StreamingJobs.latestAggState(spark, stateDir).get._2
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(StreamingJobs.applyCcBatch(spark, b0, 0L, stateDir))
    assert(snap() == Set((0L, 0L), (1L, 0L), (2L, 2L), (3L, 2L)))
    assert(StreamingJobs.applyCcBatch(spark, b1, 1L, stateDir))
    val once = snap()
    val oneShot = graft.operators.Dedup.connectedComponents(b0.unionByName(b1))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(once == oneShot, s"incremental $once != one-shot $oneShot")
    assert(once == Set((0L, 0L), (1L, 0L), (2L, 0L), (3L, 0L), (7L, 7L)))
    // replayed batchId: no-op, state unchanged
    assert(!StreamingJobs.applyCcBatch(spark, b0, 1L, stateDir))
    assert(snap() == once)
  }

  test("applyCmsBatch: same payload under a NEW batchId is a no-op (fingerprint guard)") {
    val stateDir = Files.createTempDirectory("graft_cms_redeliver").toString
    try {
      val docs = Tables.documents(spark, sfTiny).limit(30).localCheckpoint(true)
      val b0 = docs.filter(col("doc_id") % 2 === 0)
      val b1 = docs.filter(col("doc_id") % 2 === 1)
      assert(StreamingJobs.applyCmsBatch(spark, b0, "text", 0L, 4, 256, stateDir))
      assert(StreamingJobs.applyCmsBatch(spark, b1, "text", 1L, 4, 256, stateDir))
      def snap() = StreamingJobs.latestAggState(spark, stateDir).get._2
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
      val once = snap()
      // exact replay (old batchId): version guard no-ops it
      assert(!StreamingJobs.applyCmsBatch(spark, b0, "text", 1L, 4, 256, stateDir))
      // at-least-once redelivery: b0's PAYLOAD again under batchId 2 —
      // the version guard is blind to this; the payload fingerprint
      // committed with the state must no-op it (state unchanged)
      assert(!StreamingJobs.applyCmsBatch(spark, b0, "text", 2L, 4, 256, stateDir))
      assert(snap() == once, "redelivered payload inflated the sketch")
      // genuinely new data still folds in
      val b2 = Tables.documents(spark, sfTiny)
        .filter(col("doc_id") >= 30 && col("doc_id") < 40)
      assert(StreamingJobs.applyCmsBatch(spark, b2, "text", 3L, 4, 256, stateDir))
      assert(snap() != once)
      // the cell payload (marker rows excluded) equals the one-shot
      // sketch of everything folded exactly once
      val cells = StreamingJobs.latestAggState(spark, stateDir).get._2
        .filter(col("j") >= 0)
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
      val oneShot = operators.TextAnalysis.cmsCells(
          docs.unionByName(b2), "text", 4, 256)
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
      assert(cells == oneShot, "streamed cells diverge from the one-shot sketch")
    } finally {
      val sp = new org.apache.hadoop.fs.Path(stateDir)
      sp.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(sp, true)
    }
  }

  test("applyCmsBatch dedupIds: strict-subset redelivery folds nothing; new docs still fold") {
    val stateDir = java.nio.file.Files.createTempDirectory("graft_cms_dedup").toString
    try {
      val docs = Tables.documents(spark, sfTiny).filter(col("doc_id") < 30)
      assert(StreamingJobs.applyCmsBatch(spark, docs, "text", 0L, 4, 256,
        stateDir, dedupIds = true))
      def cells(): Set[(Int, Long, Long)] =
        StreamingJobs.latestAggState(spark, stateDir).get._2
          .filter(col("j") >= 0)
          .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
      val once = cells()
      // a strict SUBSET of batch 0 under a NEW batchId: the payload
      // fingerprint differs (different size), so only the id set-union
      // state can stop the inflation — the documented precondition of
      // the default mode, closed here
      assert(StreamingJobs.applyCmsBatch(spark,
        docs.filter(col("doc_id") < 10), "text", 1L, 4, 256,
        stateDir, dedupIds = true))
      assert(cells() == once, "subset redelivery inflated cells")
      // a MIXED batch (overlap + genuinely new docs): only the new fold
      val mixed = Tables.documents(spark, sfTiny)
        .filter(col("doc_id") >= 20 && col("doc_id") < 40)
      assert(StreamingJobs.applyCmsBatch(spark, mixed, "text", 2L, 4, 256,
        stateDir, dedupIds = true))
      val oneShot = operators.TextAnalysis.cmsCells(
          Tables.documents(spark, sfTiny).filter(col("doc_id") < 40),
          "text", 4, 256)
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
      assert(cells() == oneShot,
        "dedupIds state diverges from the exactly-once one-shot sketch")
    } finally {
      val sp = new org.apache.hadoop.fs.Path(stateDir)
      sp.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(sp, true)
    }
  }

  test("applyTokenCountBatch: drained == one-shot token counts under the frozen tokenizer; replay is a no-op") {
    val stateDir = java.nio.file.Files.createTempDirectory("graft_tok_test").toString
    try {
      val docs = Tables.documents(spark, sfTiny)
      (0 until 3).foreach { i =>
        assert(StreamingJobs.applyTokenCountBatch(spark,
          docs.filter(pmod(col("doc_id"), lit(3)) === i), i.toLong,
          sfTiny, 6, stateDir))
      }
      def state(): Map[Int, Long] =
        StreamingJobs.latestAggState(spark, stateDir).get._2
          .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      val drained = state()
      val model = operators.TextAnalysis.bpeModel(spark, sfTiny, 6)
      val oneShot = operators.TextAnalysis.tokenCounts(docs, model)
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      assert(drained == oneShot, "streamed token counts diverge from one-shot")
      // exact replay of a committed batchId must not double-count
      assert(!StreamingJobs.applyTokenCountBatch(spark,
        docs.filter(pmod(col("doc_id"), lit(3)) === 1), 1L, sfTiny, 6, stateDir))
      assert(state() == drained, "replayed batch inflated the counts")
    } finally {
      val sp = new org.apache.hadoop.fs.Path(stateDir)
      sp.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(sp, true)
    }
  }

  test("applyLmCountBatch: drained bigram state == one-shot LM counts; replay is a no-op") {
    val stateDir = java.nio.file.Files.createTempDirectory("graft_lm_test").toString
    try {
      val train = Tables.documents(spark, sfTiny).filter(col("lang") === "en")
      (0 until 3).foreach { i =>
        assert(StreamingJobs.applyLmCountBatch(spark,
          train.filter(pmod(col("doc_id"), lit(3)) === i), i.toLong, stateDir))
      }
      def state(): Map[(String, String), Long] =
        StreamingJobs.latestAggState(spark, stateDir).get._2
          .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      val drained = state()
      val oneShot = operators.LanguageModel.bigramCounts(train)
        .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      assert(drained == oneShot, "streamed bigram counts diverge from one-shot")
      assert(!StreamingJobs.applyLmCountBatch(spark,
        train.filter(pmod(col("doc_id"), lit(3)) === 1), 1L, stateDir))
      assert(state() == drained, "replayed batch inflated the counts")
    } finally {
      val sp = new org.apache.hadoop.fs.Path(stateDir)
      sp.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(sp, true)
    }
  }

  test("streamed curation state: drained manifest == batch q193; replay AND overlap are no-ops") {
    import graft.plans.CurationPipeline
    val stateDir = java.nio.file.Files.createTempDirectory("graft_cur_state").toString
    val work = java.nio.file.Files.createTempDirectory("graft_cur_batch").toString
    try {
      val docs = Tables.documents(spark, sfTiny)
        .select(col("doc_id"), col("text"), col("lang"), col("source"))
      // mod-slices, NOT ascending ranges: the gate-state contract is
      // order-independent, unlike the q69 ascending-id precondition
      (0 until 3).foreach { i =>
        assert(StreamingJobs.applyCurationBatch(spark,
          docs.filter(pmod(col("doc_id"), lit(3)) === i), i.toLong, stateDir))
      }
      def mf(): Seq[Seq[Any]] =
        StreamingJobs.latestCurationManifest(spark, stateDir, sfTiny, budget = 60)
          .get._2.collect().map(_.toSeq).toSeq
      val streamed = mf()
      val batch = CurationPipeline.manifest(
        CurationPipeline.runStages(spark, sfTiny, work,
          withClassifier = false, budget = 60)).collect().map(_.toSeq).toSeq
      assert(streamed == batch,
        s"drained manifest diverged:\n streamed $streamed\n batch    $batch")
      // exact replay of a committed batchId: no new version, no change
      assert(!StreamingJobs.applyCurationBatch(spark,
        docs.filter(pmod(col("doc_id"), lit(3)) === 1), 1L, stateDir))
      assert(mf() == streamed, "replayed batch mutated the state")
      // OVERLAPPING redelivery under a NEW batchId (the case the CMS
      // additive state documents as a precondition): the set-semantics
      // 'in' counters and the idempotent gate merge absorb it
      assert(StreamingJobs.applyCurationBatch(spark,
        docs.filter(pmod(col("doc_id"), lit(3)) === 2), 7L, stateDir))
      assert(mf() == streamed, "overlap redelivery changed the manifest")
    } finally Seq(stateDir, work).foreach { dir =>
      val sp = new org.apache.hadoop.fs.Path(dir)
      sp.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(sp, true)
    }
  }

  test("streaming dedup (dropDuplicates + watermark) == batch keep-first key set") {
    StreamingJobs.runStreamingDedup(spark, streamDir, "dedup_test")
    val streamedKeys = spark.table("dedup_test")
      .select(col("user_id"), col("event_type")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    val batchKeys = operators.Events.q72StreamDedup.run(spark, sfTiny)
      .select(col("user_id"), col("event_type")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(streamedKeys == batchKeys)
  }
}
