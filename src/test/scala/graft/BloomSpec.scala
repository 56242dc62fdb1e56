package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import graft.operators.Dedup

/** Gates for q133 (Bloom pre-filtered decontamination) and the
  * graft_bloom_agg / graft_bloom_contains SQL surface:
  * result identity with the exact semi-join form (Bloom FPs must all die
  * in the verify join, FNs are impossible), the no-train-shuffle plan
  * property that is the operator's reason to exist, the empty-test-split
  * guard, and the scalar-subquery SQL form. */
class BloomSpec extends SparkSpec {

  test("q133 equals q109 exactly (Bloom pre-filter changes the plan, not the answer)") {
    for (d <- Seq(sfTiny, sfSmall)) {
      val exact = Registry.byName("q109_decontaminate").run(spark, d).collect().toSeq
      val bloom = Registry.byName("q133_bloom_decontaminate").run(spark, d).collect().toSeq
      assert(bloom == exact, s"$d: bloom-path result diverged from exact path")
    }
  }

  test("the train side reaches the Bloom predicate with zero shuffles") {
    // Rebuild just the candidate stage (scan -> mightContain -> distinct)
    // and count exchanges below the distinct: the scan+filter must be
    // shuffle-free — the whole point versus q109's corpus-wide distinct.
    val bf = org.apache.spark.util.sketch.BloomFilter.create(1000, 0.02)
    Seq(1L, 2L, 3L).foreach(bf.putLong)
    val bos = new java.io.ByteArrayOutputStream()
    bf.writeTo(bos)
    val s = spark
    import s.implicits._
    val big = (0L until 1000L).toSeq.toDF("k")
    val filtered = big.filter(graft.functions.BloomFunctions.mightContain(bos.toByteArray, col("k")))
    val shuffles = filtered.queryExecution.executedPlan.collect {
      case e: ShuffleExchangeExec => e
    }
    assert(shuffles.isEmpty, s"expected scan-stage predicate, found ${shuffles.size} shuffles")
    // and the filter admits all true members (no false negatives)
    val kept = filtered.collect().map(_.getLong(0)).toSet
    assert(Set(1L, 2L, 3L).subsetOf(kept))
  }

  test("empty test split yields an empty report, not a crash") {
    // n larger than any document's token count -> the key sets are
    // empty -> the Bloom aggregate yields a null blob.
    assert(Dedup.shingleKeySets(Tables.documents(spark, sfTiny), 100000).isEmpty)
    val out = Dedup.decontaminateBloom(spark, sfTiny, n = 100000)
    assert(out.count() == 0)
  }

  test("SQL surface: scalar-subquery bloom build + membership probe") {
    graft.plans.GraftExtensions.register(spark)
    val s = spark
    import s.implicits._
    Seq(10L, 20L, 30L).toDF("k").createOrReplaceTempView("bloom_small")
    (0L until 100L).toSeq.toDF("k").createOrReplaceTempView("bloom_big")
    val hits = spark.sql(
      """SELECT k FROM bloom_big
         WHERE graft_bloom_contains(
           (SELECT graft_bloom_agg(k) FROM bloom_small), k)""")
      .collect().map(_.getLong(0)).toSet
    assert(Set(10L, 20L, 30L).subsetOf(hits), "false negative in SQL bloom path")
    assert(hits.size < 100, "filter admitted everything — not filtering at all")
  }
}
