package graft

import org.apache.spark.sql.functions._
import graft.operators.{Ann, Dedup, Similarity}

/** Operator-level invariants on the tiny fixture (sf0.001). */
class OperatorSpec extends SparkSpec {

  test("knnExact: exactly k rows per query, ranks 1..k, non-increasing sim") {
    val df = Similarity.knnExact(spark, sfTiny, k = 3, queryMod = 10).collect()
    val byQ = df.groupBy(_.getLong(0))
    byQ.foreach { case (q, rows) =>
      assert(rows.length == 3, s"query $q")
      assert(rows.map(_.getInt(1)).sorted.sameElements(Array(1, 2, 3)))
      val sims = rows.sortBy(_.getInt(1)).map(_.getDouble(3))
      assert(sims.zip(sims.tail).forall { case (a, b) => a >= b })
      assert(sims.forall(s => s >= -1.0001 && s <= 1.0001))
    }
  }

  test("nearDupPairs: canonical (id1 < id2), no dups, all >= threshold") {
    val rows = Similarity.nearDupPairs(spark, sfTiny, 0.3).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => r.getLong(0) < r.getLong(1)))
    assert(rows.map(r => (r.getLong(0), r.getLong(1))).distinct.length == rows.length)
    assert(rows.forall(_.getDouble(2) >= 0.3))
  }

  test("minhash LSH candidates: canonical pairs, band count in [1,4]") {
    val rows = Dedup.minhashCandidates(spark, sfTiny).collect()
    assert(rows.forall(r => r.getLong(0) < r.getLong(1)))
    assert(rows.forall(r => r.getLong(2) >= 1 && r.getLong(2) <= 4))
  }

  test("simhash pairs: hamming within threshold, canonical, no dups") {
    val rows = Dedup.simhashPairs(spark, sfTiny).collect()
    assert(rows.forall(r => r.getLong(0) < r.getLong(1)))
    assert(rows.forall(_.getLong(2) <= 3))
    assert(rows.map(r => (r.getLong(0), r.getLong(1))).distinct.length == rows.length)
  }

  test("ngram jaccard: similarity in (0,1], symmetric-canonical") {
    val rows = Dedup.ngramJaccard(spark, sfTiny, n = 5, threshold = 0.01).collect()
    assert(rows.forall(r => r.getDouble(3) > 0 && r.getDouble(3) <= 1.0))
    assert(rows.forall(r => r.getLong(0) < r.getLong(1)))
  }

  test("connected components: chains collapse to one cluster (toy graph + corpus invariants)") {
    // chain 1-2-3 (1 and 3 never pair directly), separate pair 10-11,
    // plus a triangle 20-21-22: min-label must reach across hops
    val edges = spark.createDataFrame(
      Seq((2L, 3L), (1L, 2L), (10L, 11L), (20L, 21L), (21L, 22L), (20L, 22L)))
      .toDF("id1", "id2")
    val comp = Dedup.connectedComponents(edges).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(Seq(1L, 2L, 3L).forall(comp(_) == 1L), s"chain broke: $comp")
    assert(Seq(10L, 11L).forall(comp(_) == 10L))
    assert(Seq(20L, 21L, 22L).forall(comp(_) == 20L))

    // corpus run: every verified edge's endpoints share a cluster, and
    // every cluster id is a member of its own cluster
    val pairs = Dedup.sketchVerifiedPairs(spark, sfTiny, 0.8)
      .select(col("id1"), col("id2"))
    val clusters = Dedup.dupClusters(spark, sfTiny, 0.8)
    val cmap = clusters.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    pairs.collect().foreach { r =>
      assert(cmap(r.getLong(0)) == cmap(r.getLong(1)),
        s"edge (${r.getLong(0)}, ${r.getLong(1)}) spans clusters")
    }
    cmap.values.toSet.foreach { (c: Long) => assert(cmap(c) == c, s"cluster id $c not self-labeled") }
    // sizes are consistent
    val sizeOk = clusters.groupBy(col("cluster_id"))
      .agg(countDistinct(col("doc_id")).as("n"), first(col("cluster_size")).as("sz"))
      .filter(col("n") =!= col("sz")).count()
    assert(sizeOk == 0)
  }

  test("connected components: 1000-node chain converges in O(log n) rounds") {
    // the adversarial shape for min-label propagation (diameter = n);
    // large-star/small-star alternation must collapse it in ~log2(n)
    // rounds — the 100 TB guarantee that one giant straggly component
    // cannot turn the clustering into a 1000-round job. Cutoff 0 forces
    // the distributed path (the local union-find would mask it).
    val n = 1000
    val chain = spark.createDataFrame((0L until (n - 1).toLong).map(i => (i, i + 1)))
      .toDF("id1", "id2")
    spark.conf.set("spark.graft.cc.localEdgeCutoff", "0")
    try {
      val (labels, rounds) = Dedup.connectedComponentsWithRounds(chain)
      val got = labels.collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(got.length == n)
      assert(got.forall(_._2 == 0L), "chain did not collapse to component min 0")
      val bound = 2 * (math.log(n) / math.log(2)).ceil.toInt // ~2*log2(n) = 20
      assert(rounds <= bound, s"took $rounds rounds, bound $bound")
    } finally spark.conf.unset("spark.graft.cc.localEdgeCutoff")
  }

  test("connected components: local union-find path == distributed alternation") {
    // random graph with chains, cliques and isolated self-pairs; the
    // conf-gated fast path must be semantically invisible
    val rnd = new scala.util.Random(42)
    val es = (0 until 400).map { _ =>
      (rnd.nextInt(300).toLong, rnd.nextInt(300).toLong) } ++
      Seq((500L, 500L), (601L, 602L), (602L, 603L), (603L, 601L))
    val pairs = spark.createDataFrame(es).toDF("id1", "id2")
    def run(): Set[(Long, Long)] = Dedup.connectedComponents(pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val local = run() // default cutoff: local path
    spark.conf.set("spark.graft.cc.localEdgeCutoff", "0")
    try {
      val (_, rounds) = Dedup.connectedComponentsWithRounds(pairs)
      assert(rounds > 0, "distributed path not exercised")
      assert(run() == local, "local and distributed labels differ")
    } finally spark.conf.unset("spark.graft.cc.localEdgeCutoff")
  }

  test("dupClusters on sfTiny runs at most 11 Spark jobs") {
    // one sketch pass, one counted materialization of the verified pairs
    // collected for the driver-side union-find, then the labelling
    Dedup.dupClusters(spark, sfTiny, 0.8).collect()
    val jobs = jobsDuring(Dedup.dupClusters(spark, sfTiny, 0.8).collect())
    assert(jobs <= 11, s"dupClusters ran $jobs Spark jobs")
  }

  test("q64 with the local CC path off returns the default-path rows") {
    def rows(): Seq[String] =
      SparkEntry.queries("q64_dup_clusters")(spark, sfTiny).collect().map(_.toString).toSeq
    val local = rows()
    spark.conf.set("spark.graft.cc.localEdgeCutoff", "0")
    try assert(rows() == local, "the distributed CC round changed q64's rows")
    finally spark.conf.unset("spark.graft.cc.localEdgeCutoff")
  }

  test("degenerate thresholds: no pairs -> all-singleton clusters; empty increment -> empty survivors") {
    // threshold > 1 admits no verified pair: every doc is its own cluster
    val clusters = Dedup.dupClusters(spark, sfTiny, threshold = 1.01)
    val total = Tables.documents(spark, sfTiny).count()
    assert(clusters.count() == total)
    assert(clusters.filter(col("cluster_id") =!= col("doc_id")).count() == 0)
    assert(clusters.filter(col("cluster_size") =!= 1).count() == 0)
    // an increment selecting nothing yields an empty survivor set, not an error
    assert(Dedup.incrementalDedupSurvivors(spark, sfTiny, lit(false), 0.8).count() == 0)
  }

  test("incremental dedup with everything-new equals the full q59 survivor set") {
    // both policies drop a doc exactly when a lower-id verified near-dup
    // exists, so an increment covering the whole corpus must reproduce
    // the batch pipeline bit-for-bit
    val full = Dedup.sketchDedupSurvivors(spark, sfTiny, 0.8)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    val inc = Dedup.incrementalDedupSurvivors(spark, sfTiny, lit(true), 0.8)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(inc == full,
      s"incremental(all-new) diverged: ${(inc -- full).size} extra, ${(full -- inc).size} missing")
  }

  test("neardup survivors: survivors + dominated = all; no survivor dominated") {
    val total = Tables.embeddings(spark, sfTiny).count()
    val pairs = Similarity.nearDupPairs(spark, sfTiny, 0.35)
    val dominated = pairs.select(col("id2")).distinct().count()
    val survivors = Dedup.neardupSurvivors(spark, sfTiny, 0.35).count()
    assert(survivors == total - dominated)
  }

  test("q55 LSH survivors agree with exact q54 survivors (recall >= 0.99)") {
    val exact = Dedup.neardupSurvivors(spark, sfTiny, 0.35)
      .select(col("vec_id")).collect().map(_.getLong(0)).toSet
    val lsh = Dedup.lshSurvivors(spark, sfTiny, 0.35)
      .select(col("vec_id")).collect().map(_.getLong(0)).toSet
    assert(exact.nonEmpty)
    // an LSH candidate miss can only make a dominated vector survive, so
    // exact-survivor recall is the right one-sided gate
    val recall = lsh.intersect(exact).size.toDouble / exact.size
    assert(recall >= 0.99, s"survivor recall $recall (${exact.size} exact)")
    // and the miss overhead itself must be tiny
    assert((lsh -- exact).size <= math.max(1, exact.size / 100),
      s"${(lsh -- exact).size} spurious survivors")
  }

  test("q150 multi-probe LSH: recall >= 0.99 with fewer tables than single-probe") {
    val mp = Ann.q150MultiProbeRecall.run(spark, sfTiny).head()
    val (exactN, foundN) = (mp.getLong(0), mp.getLong(1))
    val r = foundN.toDouble / exactN
    assert(exactN > 0 && r >= 0.99,
      s"multi-probe recall $r ($foundN/$exactN) at " +
        s"${GraftConf.lshProbeTables(spark)} tables, " +
        s"probes=${GraftConf.lshProbes(spark)}")
    assert(GraftConf.lshProbeTables(spark) < GraftConf.lshNumTables(spark),
      "multi-probe tier must use fewer stored tables than the single-probe tier")
  }

  test("q156 aggregator-form IVF kNN == q34 window form, row for row") {
    def shape(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSeq
    val win = shape(Ann.q34IvfKnn.run(spark, sfTiny))
    val agg = shape(Ann.q156IvfKnnAgg.run(spark, sfTiny))
    assert(win.nonEmpty && win == agg,
      s"forms diverge: window ${win.take(3)} vs aggregator ${agg.take(3)}")
  }

  test("q157 PIT join: both the matched and the pre-history branch carry rows") {
    // the oracle pins exact values, but if a future testdata generation
    // shifts the order-date range off the 1997 version epoch, the
    // 'none' (left/as-of-miss) branch could silently go vacuous with
    // correctness still green — pin non-vacuousness here
    val segs = graft.operators.Relational.q157PitJoin.run(spark, sfTiny)
      .collect().map(_.getString(0)).toSet
    assert(segs.contains("none"), "no pre-history orders: left branch vacuous")
    assert(segs.exists(_.startsWith("seg")), "no matched versions at all")
  }

  test("q147 priority sample is partition-invariant (mergeable sample state)") {
    import graft.operators.TextAnalysis.prioritySample
    def run(df: org.apache.spark.sql.DataFrame) =
      prioritySample(df, "lang", "doc_id", 7).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    val docs = Tables.documents(spark, sfTiny)
    val one = run(docs.coalesce(1))
    val many = run(docs.repartition(13, col("doc_id")))
    assert(one.nonEmpty && one == many,
      s"sample differs across partitionings: ${one.take(3)} vs ${many.take(3)}")
  }

  test("IVF knn recall >= 0.9 vs exact (tiny)") {
    val exact = Similarity.knnExact(spark, sfTiny, k = 2, queryMod = 10)
      .select(col("qid"), col("nid"))
    val ann = Ann.ivfKnn(spark, sfTiny, k = 2, nprobe = 6, queryMod = 10)
      .select(col("qid"), col("nid"))
    val total = exact.count()
    val found = exact.join(ann, Seq("qid", "nid")).count()
    assert(found.toDouble / total >= 0.9, s"recall ${found.toDouble / total}")
  }

  test("IVF near-dup pair recall >= 0.9 vs exact (tiny)") {
    val exact = Similarity.nearDupPairs(spark, sfTiny, 0.35)
      .select(col("id1"), col("id2"))
    val ann = Ann.ivfNearDup(spark, sfTiny, 0.35, nprobe = 4)
      .select(col("id1"), col("id2"))
    val total = exact.count()
    val found = exact.join(ann, Seq("id1", "id2")).count()
    assert(found.toDouble / total >= 0.9, s"recall ${found.toDouble / total}")
  }

  test("LSH near-dup recall >= 0.9 vs exact (tiny)") {
    val exact = Similarity.nearDupPairs(spark, sfTiny, 0.35)
      .select(col("id1"), col("id2"))
    val ann = Ann.lshNearDup(spark, sfTiny, 0.35).select(col("id1"), col("id2"))
    val total = exact.count()
    val found = exact.join(ann, Seq("id1", "id2")).count()
    assert(found.toDouble / total >= 0.9, s"recall ${found.toDouble / total}")
  }

  test("edge semantics: single-row corpus and empty query sets yield empty joins, not errors") {
    val ss = spark
    import ss.implicits._
    // 1-row corpus: LSH fit succeeds (projections don't depend on data),
    // pair join is empty — the empty-index <-> empty-join equivalence
    val one = Seq((1L, Array.fill(8)(0.5f))).toDF("vec_id", "embedding")
    assert(Ann.lshNearDupFrame(one, "vec_id", "embedding",
      threshold = -1.0, bucketLength = 0.25, numTables = 4).count() == 0)
    // empty micro-batch through the continuous index-add path
    val empty = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    assert(Ann.assignCells(spark, sfTiny, empty).count() == 0)
    // unsatisfiable threshold -> empty pair relation (cos <= 1 always)
    assert(Similarity.nearDupPairs(spark, sfTiny, threshold = 1.1).count() == 0)
  }

  test("rangeJoinBinned equals the naive theta join (bucket replication is exact)") {
    val pts = Tables.customer(spark, sfTiny).select(col("c_custkey"), col("c_acctbal"))
    val ivs = Tables.supplier(spark, sfTiny).select(
      col("s_suppkey"),
      (col("s_acctbal") - 50).as("lo"), (col("s_acctbal") + 50).as("hi"))
    val binned = operators.Relational
      .rangeJoinBinned(pts, ivs, col("c_acctbal"), col("lo"), col("hi"), 100.0)
      .select(col("s_suppkey"), col("c_custkey"))
    val naive = pts.crossJoin(ivs)
      .filter(col("c_acctbal") >= col("lo") && col("c_acctbal") <= col("hi"))
      .select(col("s_suppkey"), col("c_custkey"))
    assert(binned.count() == naive.count())
    assert(binned.exceptAll(naive).count() == 0)
    assert(naive.exceptAll(binned).count() == 0)
  }

  test("fuzzy blocking recall: two-key candidates find every exact all-pairs match") {
    val blocked = operators.Dedup
      .fuzzyNamePairs(Tables.part(spark, sfTiny), "p_name", maxDist = 3)
      .select(col("name1"), col("name2"))
    val vocab = Tables.part(spark, sfTiny)
      .select(lower(col("p_name")).as("name")).distinct()
    val exact = vocab.select(col("name").as("name1"))
      .crossJoin(vocab.select(col("name").as("name2")))
      .filter(col("name1") < col("name2"))
      .filter(levenshtein(col("name1"), col("name2")) <= 3)
    val total = exact.count()
    val found = exact.join(blocked, Seq("name1", "name2")).count()
    assert(total > 0)
    // head+tail blocking measured at recall 1.0 on this vocabulary; gate a
    // notch lower so a benign fixture change doesn't flap the suite
    assert(found.toDouble / total >= 0.95, s"recall ${found.toDouble / total}")
    assert(blocked.count() == blocked.dropDuplicates("name1", "name2").count())
  }

  test("mergeUpsert: update wins, inserts append, untouched rows pass through, key stays unique") {
    val ss = spark
    import ss.implicits._
    val base = Seq((1L, "a", 10), (2L, "b", 20), (3L, "c", 30))
      .toDF("id", "v", "n")
    val changes = Seq((2L, "B", 99), (9L, "z", 1)).toDF("id", "v", "n")
    val merged = plans.Scale.mergeUpsert(base, changes, "id")
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getInt(2)))).toMap
    assert(merged.size == 4)                         // 3 base - 1 replaced + 2 changes
    assert(merged(2L) == ("B", 99), "update must win over base")
    assert(merged(9L) == ("z", 1), "insert must appear")
    assert(merged(1L) == ("a", 10) && merged(3L) == ("c", 30), "pass-through rows")
  }

  test("syntheticChangeset keys are unique and disjoint from every base key") {
    // the mergeUpsert precondition the q95/q100 oracles can't check
    // themselves (they replay the same construction): insert keys live
    // in the negative id space, so no scale factor can collide them
    val base = Tables.documents(spark, sfTiny)
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
    val changes = plans.Scale.syntheticChangeset(base)
    val n = changes.count()
    assert(changes.select(col("doc_id")).distinct().count() == n,
      "changeset keys not unique")
    val inserts = changes.filter(col("source") === "inserted")
    assert(inserts.count() > 0)
    assert(inserts.join(base, Seq("doc_id"), "left_semi").count() == 0,
      "insert keys collide with base keys")
  }

  test("tableDiff recovers exactly the mergeUpsert changeset (+ deletes), nothing else") {
    val ss = spark
    import ss.implicits._
    val base = Seq((1L, "a", 10), (2L, "b", 20), (3L, "c", 30))
      .toDF("id", "v", "n")
    val changes = Seq((2L, "B", 99), (9L, "z", 1)).toDF("id", "v", "n")
    val merged = plans.Scale.mergeUpsert(base, changes, "id")
      .filter(col("id") =!= 3L) // simulate a delete
    val diff = plans.Scale.tableDiff(base, merged, "id", Seq("v", "n"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(diff == Set((2L, "changed"), (9L, "added"), (3L, "removed")),
      s"unexpected diff: $diff")
  }

  test("q103 sketch aggregates stay inside their error bounds vs exact") {
    val rows = Registry.byName("q103_sketch_agg").run(spark, sfTiny).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (approxN, exactN) = (r.getAs[Long]("approx_orders"),
        r.getAs[Long]("exact_orders"))
      val relErr = math.abs(approxN - exactN).toDouble / exactN
      assert(relErr <= 0.06, // 3x the configured rsd=0.02
        s"HLL distinct off by ${relErr * 100}% for ${r.getString(0)}")
      Seq(("approx_p50", "exact_p50"), ("approx_p95", "exact_p95")).foreach {
        case (a, e) =>
          val (av, ev) = (r.getAs[Double](a), r.getAs[Double](e))
          assert(math.abs(av - ev) / math.abs(ev) <= 0.05,
            s"$a=$av vs $e=$ev beyond 5% for ${r.getString(0)}")
      }
    }
  }

  test("q101 redaction removes every planted PII instance") {
    // Re-run the redaction WITHOUT the md5 narrowing: no email/phone/IP
    // pattern may survive in the redacted text, and every doc must have
    // planted counts >= 1 (so the test can't pass vacuously).
    val emailRe = """[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}"""
    val counts = Registry.byName("q101_pii_redact").run(spark, sfTiny)
      .agg(sum(col("n_email")).as("e"), sum(col("n_phone")).as("p"),
        sum(col("n_ip")).as("i"), count(lit(1)).as("n"))
      .collect().head
    assert(counts.getAs[Long]("e") >= counts.getAs[Long]("n"),
      "every doc must carry at least one planted email")
    assert(counts.getAs[Long]("p") >= counts.getAs[Long]("n"))
    assert(counts.getAs[Long]("i") >= counts.getAs[Long]("n"))
    // a doc whose md5 equals md5 of a text still containing an email
    // would indicate redaction failure; verify directly on one doc
    val leaked = Tables.documents(spark, sfTiny)
      .select(regexp_count(
        regexp_replace(
          concat(col("text"), lit(" x"), col("doc_id").cast("string"),
            lit("@mail.example.com")),
          emailRe, "<EMAIL>"),
        lit(emailRe)).as("left_over"))
      .agg(sum(col("left_over"))).collect().head.getLong(0)
    assert(leaked == 0L, s"$leaked unredacted emails survived")
  }

  test("aggState merge is associative: merge(agg(a), agg(b)) == agg(a ++ b)") {
    val ss = spark
    import ss.implicits._
    val a = Seq(("x", 1.0), ("x", 2.0), ("y", 5.0)).toDF("k", "v")
    val b = Seq(("x", 7.0), ("z", -1.0)).toDF("k", "v")
    def snap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4))).toSet
    val merged = snap(plans.Scale.mergeAggStates(
      plans.Scale.aggState(a, "k", "v"), plans.Scale.aggState(b, "k", "v"), "k"))
    val full = snap(plans.Scale.aggState(a.unionByName(b), "k", "v"))
    assert(merged == full, s"state merge diverged: $merged vs $full")
  }

  test("q106 chunk fan-out equals ceil(len/stride); every chunk within [1,128] chars") {
    val expected = Tables.documents(spark, sfTiny)
      .select(col("doc_id"), length(col("text")).as("n")).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1) + 95) / 96).toLong).toMap
    val got = Registry.byName("q106_doc_chunks").run(spark, sfTiny)
    val perDoc = got.groupBy(col("doc_id")).agg(count(lit(1)).as("c"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(perDoc == expected, "chunk counts diverge from ceil(len/stride)")
    val bounds = got.agg(min(col("chunk_chars")), max(col("chunk_chars"))).head()
    assert(bounds.getLong(0) >= 1 && bounds.getLong(1) <= 128,
      s"chunk length out of bounds: $bounds")
  }

  test("q109 invariants: hits bounded by shingles, flag consistent, fan-out <= 1 per probe") {
    val rows = Registry.byName("q109_decontaminate").run(spark, sfTiny).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (nSh, nHit, flag) = (r.getAs[Long]("n_sh"), r.getAs[Long]("n_hit"),
        r.getAs[Int]("contaminated"))
      assert(nHit <= nSh, s"doc ${r.getLong(0)}: more hits than shingles")
      assert((flag == 1) == (nHit > 0), s"doc ${r.getLong(0)}: flag inconsistent")
    }
    assert(rows.exists(_.getAs[Long]("n_hit") > 0),
      "corpus has planted dups across splits — expected some contamination")
  }

  test("aggState on empty input merges as identity") {
    val ss = spark
    import ss.implicits._
    val a = Seq(("x", 1.0), ("y", 2.0)).toDF("k", "v")
    val empty = a.filter(lit(false))
    val sA = plans.Scale.aggState(a, "k", "v")
    val merged = plans.Scale.mergeAggStates(sA, plans.Scale.aggState(empty, "k", "v"), "k")
    assert(merged.collect().map(_.toSeq).toSet == sA.collect().map(_.toSeq).toSet)
  }

  test("q117 fingerprint: untouched range survives the merge, touched range differs") {
    val fp = Registry.byName("q117_table_fingerprint").run(spark, sfTiny)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(fp("base_untouched") == fp("merged_untouched"),
      "fingerprint changed on rows the merge never touched")
    assert(fp("base_all")._1 == fp("merged_all")._1, "merge changed row count")
    assert(fp("base_all")._2 != fp("merged_all")._2,
      "fingerprint failed to detect the patched rows")
  }

  test("q114 SCD2 invariants: contiguous intervals, one open interval per customer, real changes only") {
    val rows = Registry.byName("q114_scd2").run(spark, sfTiny)
      .collect().map(r => (r.getLong(0), r.getString(1),
        r.getAs[java.time.LocalDateTime](2),
        Option(r.getAs[java.time.LocalDateTime](3)), r.getInt(4)))
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (cust, history) =>
      val h = history.toSeq.sortBy(_._3.toString)
      // exactly one open (current) interval, and it is the last one
      assert(h.count(_._4.isEmpty) == 1 && h.last._4.isEmpty,
        s"cust $cust: open-interval invariant broken")
      assert(h.forall(r => (r._5 == 1) == r._4.isEmpty), s"cust $cust: is_current flag wrong")
      // contiguous: each interval ends exactly where the next begins
      h.sliding(2).foreach {
        case Seq(a, b) =>
          assert(a._4.contains(b._3), s"cust $cust: gap/overlap between intervals")
          assert(a._2 != b._2, s"cust $cust: consecutive intervals with same value not compacted")
        case _ =>
      }
    }
  }

  test("q118 skew report: reported keys hold >=5% each and the hot key dominates") {
    val rows = Registry.byName("q118_skew_report").run(spark, sfTiny).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Double]("share") >= 0.05 - 1e-9)
      assert(r.getAs[Double]("skew_ratio") >= 1.0, "max/mean ratio must be >= 1")
    }
    // the synthesized hot key (1) must be first with ~half the table
    assert(rows.head.getAs[Long]("k") == 1L && rows.head.getAs[Double]("share") > 0.4,
      s"hot key not detected: ${rows.head}")
  }

  test("cell-balance monitor trips on drift and median-split repair brings skew back under the threshold") {
    // the registered q224 loop end-to-end: drifted corpus (2n replicas of
    // one vector) assigned with the PRE-drift quantizer must trip the
    // monitor; the repair must strictly improve and land under ~4
    val row = Registry.byName("q224_ivf_rebalance").run(spark, sfTiny).head()
    assert(row.getAs[Boolean]("pre_exceeds"), "drift did not trip the monitor")
    assert(row.getAs[Boolean]("post_le_pre"), "repair did not improve skew")
    assert(!row.getAs[Boolean]("post_exceeds"), "repair left skew above threshold")
  }

  test("rebalanceCells is deterministic and id-fallback-safe on a cell of IDENTICAL vectors") {
    val s = spark
    import s.implicits._
    // 3 cells: two balanced, one hot cell of 80 BIT-IDENTICAL vectors —
    // the degenerate case where every split dimension has zero variance
    // and the median split must fall back to the vec_id median
    val rows =
      (0L until 10L).map(i => (i, 0, Seq(i.toDouble, 1.0))) ++
        (10L until 20L).map(i => (i, 1, Seq(-i.toDouble, 2.0))) ++
        (100L until 180L).map(i => (i, 2, Seq(7.0, 7.0)))
    val assigned = rows.toDF("vec_id", "centroid_id", "vec")
    val pre = Ann.skewVsBalanced(assigned, 3)
    val (repaired, cellsAfter, skews) =
      Ann.rebalanceCells(spark, assigned, 3, threshold = 1.5)
    assert(skews.head == pre)
    assert(skews.last < pre && skews.last <= 1.5,
      s"skew trajectory did not converge: $skews")
    assert(cellsAfter > 3, "no cell was split")
    // every vector preserved exactly once, every cell non-empty
    val ids = repaired.select("vec_id").as[Long].collect().sorted
    assert(ids.toSeq == rows.map(_._1).sorted, "repair lost or duplicated vectors")
    val sizes = repaired.groupBy("centroid_id").count()
      .as[(Int, Long)].collect().toMap
    assert(sizes.values.forall(_ > 0))
    assert(sizes.values.max <= 40, s"hot cell not actually split: $sizes")
    // post-repair centroids: one exact member-mean per surviving cell,
    // dimensionality preserved — the probe table a search path would
    // broadcast after adopting the repaired index version
    val cents = Ann.centroidsFromAssignment(repaired).collect()
    assert(cents.length == sizes.size, "centroid per non-empty cell")
    assert(cents.forall(_.getAs[Seq[Double]]("cvec").length == 2))
    repaired.unpersist()
  }

  test("serve-after-repair: post-repair search recall >= pre-repair AND >= 0.9 on the drifted corpus") {
    // the q226 gate with the measured recall VALUES asserted (the
    // registered query reduces them to oracle-checkable booleans):
    // searches through the repaired index version (post-split member-mean
    // centroids, nprobe scaled by the cell growth) must not lose quality
    // vs the pre-repair quantizer on the same drifted corpus
    val s = spark
    val dr = Ann.driftRepair(s, sfTiny)
    assert(dr.skews.last <= dr.skews.head, "repair+refinement did not improve skew")
    val k = 2
    val nprobe = GraftConf.resolveNprobe(GraftConf.ivfNprobe(s), dr.cellsPre)
    val queries = Tables.embeddings(s, sfTiny)
      .filter(col("vec_id") % 10 === 0)
      .select(col("vec_id").as("qid"),
        transform(col("embedding"), x => x.cast("double")).as("qvec"))
    val corpus = dr.assignedDrift.select(col("vec_id").as("nid"), col("vec").as("nvec"))
    val topk = udaf(new graft.functions.TopKAggregator(k))
    val exact = queries.join(corpus, col("qid") =!= col("nid"))
      .groupBy(col("qid"))
      .agg(topk(graft.functions.VectorKernels.cosineFast(col("qvec"), col("nvec")),
        col("nid")).as("top"))
      .select(col("qid"), explode(col("top")).as("e"))
      .select(col("qid"), col("e._2").as("nid"))
    val idx = Ann.ivfIndexFull(s, sfTiny)
    val preCents = idx.model.clusterCenters.zipWithIndex.map { case (c, i) => (i, c.toArray) }
    val recPre = Ann.recallVsExact(
      Ann.searchWithCentroids(queries, dr.assignedDrift, preCents, k, nprobe),
      exact).head().getDouble(2)
    val postCents = Ann.collectCentroids(dr.repaired)
    val nprobePost = math.max(nprobe,
      math.ceil(nprobe.toDouble * dr.cellsPost / dr.cellsPre).toInt)
    val recPost = Ann.recallVsExact(
      Ann.searchWithCentroids(queries, dr.repaired, postCents, k, nprobePost),
      exact).head().getDouble(2)
    assert(recPost >= recPre,
      s"post-repair recall $recPost dropped below pre-repair $recPre")
    assert(recPost >= 0.9, s"post-repair recall $recPost under the 0.9 gate")
  }

  test("q227 standing monitor→repair→swap: post-swap arrivals route through the repaired version") {
    val row = Registry.byName("q227_streamed_monitor_repair").run(spark, sfTiny).head()
    // 3 original slices + 2n drift wave + two post-swap n-waves = 5n
    assert(row.getAs[Long]("n_total") == 2500L, "loop lost or duplicated vectors")
    assert(row.getAs[Boolean]("triggered"), "the drift wave did not trip the monitor")
    assert(row.getAs[Boolean]("clean_until_drift"), "monitor tripped before the drift arrived")
    // the steady-state proof (VERDICT r11 #1): arrivals AFTER the swap are
    // assigned by the REPAIRED quantizer — some land in cells whose ids
    // only exist post-split, which the frozen pre-drift quantizer could
    // never produce
    assert(row.getAs[Boolean]("post_adds_in_split_cells"),
      "no post-swap arrival landed in a post-split cell — adds are not routing through the repaired version")
    assert(!row.getAs[Boolean]("final_exceeds"), "swapped serving state still over the threshold")
    assert(row.getAs[Boolean]("swapped"), "no index version swap happened")
  }

  test("rebalanceCells re-enters the split loop when the refinement pass overloads an absorber (ADVICE r11)") {
    val s = spark
    import s.implicits._
    // Constructed absorber fixture: cell 0 holds 500 drift replicas at
    // x≈10 plus 300 stranded originals at x≈0; cell 1 (the absorber)
    // holds 260 members at x≈0 — just UNDER the 2·mean overload cutoff,
    // so the split loop leaves it alone; eight filler cells of 30 sit
    // far away at x≈100. The median split of cell 0 cuts inside the
    // drift cluster, so its left half (300 originals + ~100 drift) has
    // a member mean ~2.5 — and the refinement pass moves all 300
    // originals into the absorber, pushing it to 560 members and the
    // skew back ABOVE the threshold. Without re-entering the split loop
    // the function would return an over-threshold "repair".
    def jit(i: Long): Double = (i % 7).toDouble * 1e-4
    val rows =
      (0L until 500L).map(i => (i, 0, Seq(10.0 + jit(i), 0.0))) ++ // drift in cell 0
        (500L until 800L).map(i => (i, 0, Seq(jit(i), 0.0))) ++ // stranded originals in cell 0
        (800L until 1060L).map(i => (i, 1, Seq(jit(i), 1e-3))) ++ // the absorber
        (1060L until 1300L).map(i => (i, (2 + (i % 8)).toInt, Seq(100.0 + (i % 8) * 10.0, jit(i))))
    val assigned = rows.toDF("vec_id", "centroid_id", "vec")
    val thr = 2.8
    val pre = Ann.skewVsBalanced(assigned, 10)
    assert(pre > thr, s"fixture must start over-threshold (pre=$pre)")
    val (repaired, cellsAfter, skews) =
      Ann.rebalanceCells(spark, assigned, 10, threshold = thr)
    // the trajectory must show the refinement RAISING skew back over the
    // threshold after an under-threshold split (the adversarial shape),
    // and the guard must then bring the final state back under
    assert(skews.exists(_ <= thr) && {
      val firstUnder = skews.indexWhere(_ <= thr)
      skews.drop(firstUnder + 1).exists(_ > thr)
    }, s"fixture did not exercise the refinement-overload path: $skews")
    assert(skews.last <= thr,
      s"repair returned an over-threshold assignment: $skews")
    assert(cellsAfter > 11,
      s"guard did not re-enter the split loop (cells=$cellsAfter): $skews")
    // no vector lost or duplicated through the alternation
    val ids = repaired.select("vec_id").as[Long].collect().sorted
    assert(ids.toSeq == rows.map(_._1).sorted)
    repaired.unpersist()
  }

  test("standing loop with zero post-swap batches: the drained monitor reads the swapped version alone") {
    // the postBatches=0 edge of the steady-state loop (the r11 q227
    // shape): no post dir is ever written, so the drained monitored
    // relation must be exactly the swapped version — n_total = 3n, no
    // post-split arrivals to report, state healthy
    val s = spark
    import s.implicits._
    val row = operators.Ann.streamedMonitorRepair(s, sfTiny, nBatches = 4,
      postBatches = 0).head()
    assert(row.getAs[Long]("n_total") == 1500L)
    assert(row.getAs[Boolean]("triggered") && row.getAs[Boolean]("swapped"))
    assert(row.getAs[Boolean]("clean_until_drift"))
    assert(!row.getAs[Boolean]("post_adds_in_split_cells"),
      "no post batch ran, so nothing can have landed in split cells")
    assert(!row.getAs[Boolean]("final_exceeds"))
  }

  test("q229 standing-loop serve: loop-version recall >= never-repaired counterfactual AND >= 0.9") {
    // the q229 gate with the measured recall VALUES asserted (the
    // registered query reduces them to oracle-checkable booleans): after
    // the full standing loop (trigger + two post-swap waves), searching
    // through the loop's final version must not lose quality vs the
    // frozen pre-drift quantizer serving the same 5n corpus
    val s = spark
    val loop = Ann.standingLoop(s, sfTiny, nBatches = 4, postBatches = 2)
    assert(loop.triggered && loop.servedCells > loop.cells0)
    val k = 2
    val nprobe = GraftConf.resolveNprobe(GraftConf.ivfNprobe(s), loop.cells0)
    val queries = Tables.embeddings(s, sfTiny)
      .filter(col("vec_id") % 10 === 0)
      .select(col("vec_id").as("qid"),
        transform(col("embedding"), x => x.cast("double")).as("qvec"))
    val corpus = loop.served.select(col("vec_id").as("nid"), col("vec").as("nvec"))
    val topk = udaf(new graft.functions.TopKAggregator(k))
    val exact = queries.join(corpus, col("qid") =!= col("nid"))
      .groupBy(col("qid"))
      .agg(topk(graft.functions.VectorKernels.cosineFast(col("qvec"), col("nvec")),
        col("nid")).as("top"))
      .select(col("qid"), explode(col("top")).as("e"))
      .select(col("qid"), col("e._2").as("nid"))
    val n = plans.TableStats.embeddings(s, sfTiny).rows
    val cfCorpus = Tables.embeddings(s, sfTiny)
      .select(col("vec_id"), col("embedding"))
      .unionByName(Ann.driftReplicas(s, sfTiny, 0L, 4 * n))
    val idx = Ann.ivfIndexFull(s, sfTiny)
    val preCents = idx.model.clusterCenters.zipWithIndex.map { case (c, i) => (i, c.toArray) }
    val recCf = Ann.recallVsExact(
      Ann.searchWithCentroids(queries, Ann.assignCells(s, sfTiny, cfCorpus),
        preCents, k, nprobe), exact).head().getDouble(2)
    val nprobePost = math.max(nprobe,
      math.ceil(nprobe.toDouble * loop.servedCells / loop.cells0).toInt)
    val recPost = Ann.recallVsExact(
      Ann.searchWithCentroids(queries, loop.served,
        Ann.collectCentroids(loop.served), k, nprobePost), exact)
      .head().getDouble(2)
    info(s"counterfactual recall $recCf, loop-serve recall $recPost " +
      s"(cells ${loop.cells0} -> ${loop.servedCells}, nprobe $nprobe -> $nprobePost)")
    assert(recPost >= recCf,
      s"loop-serve recall $recPost dropped below the counterfactual $recCf")
    assert(recPost >= 0.9, s"loop-serve recall $recPost under the 0.9 gate")
  }

  test("every registered query runs on sf0.001 and the registry is consistent") {
    val names = Registry.all.map(_.name)
    assert(names.distinct.length == names.length, "duplicate query names")
    Registry.all.foreach { q =>
      val n = q.run(spark, sfTiny).count()
      assert(n >= 0, q.name) // must at least execute; oracle checks cover values
    }
  }
}
