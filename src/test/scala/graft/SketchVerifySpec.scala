package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.SketchFunctions._
import graft.functions.SketchKernels
import graft.operators.Dedup

/** The one-pass sketch relation and the sorted-merge verify against the
  * plan they replaced, kept here as the reference: a second tokenize →
  * shingle pass exploded into (doc_id, n_sh, k) rows, each key
  * `conv(substring(md5(shingle), 1, 15), 16, 10)`, and the intersection
  * counted by an equi-join on (id2, k). (id1, id2, jaccard) must agree
  * exactly, on the registered corpus, on a chained near-duplicate corpus,
  * on degenerate documents and on key arrays with forced collisions. The
  * shared n-shingle key-set frame must explode to the same (doc, key)
  * rows, and q170 must count collisions as its key-join oracle does. */
class SketchVerifySpec extends SparkSpec {

  private def toks(c: Column): Column = split(lower(trim(c)), "\\s+")

  private def md5Key(sgl: Column): Column =
    conv(substring(md5(sgl.cast("binary")), 1, 15), 16, 10).cast("long")

  /** The old verification-side relation: one row per (doc, n-shingle). */
  private def refKeys(docs: DataFrame, n: Int = 3): DataFrame =
    docs.select(col("doc_id"), toks(col("text")).as("t"))
      .filter(size(col("t")) >= n)
      .select(col("doc_id"), shingleArray(col("t"), n).as("sh"))
      .select(col("doc_id"), size(col("sh")).as("n_sh"), explode(col("sh")).as("sgl"))
      .select(col("doc_id"), col("n_sh"), md5Key(col("sgl")).as("k"))

  /** The old candidate-driven verify: join on id1, then on (id2, k). */
  private def refVerify(ex: DataFrame, cand: DataFrame, threshold: Double): DataFrame =
    cand
      .join(ex.select(col("doc_id").as("id1"), col("n_sh").as("na"), col("k")), Seq("id1"))
      .join(ex.select(col("doc_id").as("id2"), col("n_sh").as("nb"), col("k")), Seq("id2", "k"))
      .groupBy(col("id1"), col("id2"))
      .agg(count(lit(1)).as("inter"), first(col("na")).as("na"), first(col("nb")).as("nb"))
      .select(col("id1"), col("id2"),
        round(col("inter").cast("double") / (col("na") + col("nb") - col("inter")), 4)
          .as("jaccard"))
      .filter(col("jaccard") >= threshold)

  /** The old band rows (tokenize, shingle, sign, explode) and their
    * self-join: the candidate pairs. */
  private def refCandidates(docs: DataFrame): DataFrame = {
    val banded = docs.select(col("doc_id"), toks(col("text")).as("t"))
      .filter(size(col("t")) >= 3)
      .select(col("doc_id"), shingleArray(col("t"), 3).as("sh"))
      .select(col("doc_id"), minhashSignature(col("sh"), 8).as("sig"))
      .select(col("doc_id"), posexplode(array((0 until 4).map(b =>
        concat_ws("|", element_at(col("sig"), 2 * b + 1), element_at(col("sig"), 2 * b + 2))): _*))
        .as(Seq("b", "key")))
    banded.select(col("doc_id").as("id1"), col("b"), col("key"))
      .join(banded.select(col("doc_id").as("id2"), col("b"), col("key")), Seq("b", "key"))
      .filter(col("id1") < col("id2"))
      .select(col("id1"), col("id2")).distinct()
  }

  private def allPairs(docs: DataFrame): DataFrame =
    docs.select(col("doc_id").as("id1"))
      .crossJoin(docs.select(col("doc_id").as("id2")))
      .filter(col("id1") < col("id2"))

  /** (id1, id2, jaccard bits), sorted: an exact multiset. */
  private def rows(df: DataFrame): Seq[(Long, Long, Long)] =
    df.select(col("id1"), col("id2"), col("jaccard")).collect()
      .map(r => (r.getLong(0), r.getLong(1), java.lang.Double.doubleToLongBits(r.getDouble(2))))
      .toSeq.sorted

  private val thresholds = Seq(0.0, 0.5, 0.8, 1.01)

  /** New verify vs the reference on `docs`, over the band candidates and
    * over every pair, at each threshold; returns the band-candidate rows
    * at threshold 0. */
  private def assertSame(what: String, docs: DataFrame): Seq[(Long, Long, Long)] = {
    val sk = Dedup.sketchFrame(docs)
    val ex = refKeys(docs)
    assert(sk.select(col("doc_id"), col("n_sh")).collect().map(r => (r.getLong(0), r.getInt(1))).toSet ==
      ex.select(col("doc_id"), col("n_sh")).distinct().collect().map(r => (r.getLong(0), r.getInt(1))).toSet,
      s"$what: the sketch relation holds other documents or set sizes")
    val cand = refCandidates(docs)
    val every = allPairs(docs)
    thresholds.map { t =>
      val got = rows(Dedup.verifyPairs(sk, cand, t))
      assert(got == rows(refVerify(ex, cand, t)), s"$what: band-candidate verify differs at t=$t")
      assert(rows(Dedup.verifyPairs(sk, every, t)) == rows(refVerify(ex, every, t)),
        s"$what: all-pairs verify differs at t=$t")
      got
    }.head
  }

  private def docFrame(texts: Seq[(Long, String)]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(texts.map { case (i, t) => Row(i, t) }: _*),
      StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType))))

  test("sfTiny: the q59 front half equals the exploded-key join at every threshold") {
    val docs = Tables.documents(spark, sfTiny)
    assert(assertSame("sfTiny", docs).nonEmpty, "no candidate pair on sfTiny")
    val ex = refKeys(docs)
    val cand = refCandidates(docs)
    thresholds.foreach { t =>
      assert(rows(Dedup.sketchVerifiedPairs(spark, sfTiny, t)) == rows(refVerify(ex, cand, t)),
        s"sketchVerifiedPairs differs from the reference at t=$t")
    }
  }

  test("chained near-duplicate corpus: equal rows at every threshold") {
    // the benchmark corpus's shape, built here: random documents of
    // 40-60 Zipf-ish words, a third of them in chains of 2-5 where each
    // member substitutes one or two words of the one before
    val rnd = new scala.util.Random(5)
    val vocab = (0 until 400).map(i => s"w$i")
    def word(): String = vocab((math.pow(rnd.nextDouble(), 2.5) * vocab.size).toInt)
    val texts = Seq.newBuilder[String]
    (0 until 12).foreach { _ =>
      var words = Vector.fill(40 + rnd.nextInt(21))(word())
      (0 until 2 + rnd.nextInt(4)).foreach { _ =>
        texts += words.mkString(" ")
        (0 until 1 + rnd.nextInt(2)).foreach(_ => words = words.updated(rnd.nextInt(words.size), word()))
      }
    }
    (0 until 60).foreach(_ => texts += Vector.fill(40 + rnd.nextInt(21))(word()).mkString(" "))
    val all = texts.result()
    val ids = rnd.shuffle((0L until all.size.toLong).toVector)
    val got = assertSame("chained", docFrame(ids.zip(all)))
    assert(got.count(r => java.lang.Double.longBitsToDouble(r._3) >= 0.8) > 10,
      "the chained corpus planted too few verified pairs to compare")
  }

  test("degenerate documents: short, repeated-shingle, empty and null texts") {
    val docs = docFrame(Seq(
      1L -> "a b", 2L -> "A  b", 3L -> "a b c", 4L -> "a b c a b c a b c",
      5L -> "a b c a b c", 6L -> "x", 7L -> "", 8L -> "   ", 9L -> null,
      10L -> "  a b c   d  ", 11L -> "a b c d", 12L -> "d c b a", 13L -> null))
    assertSame("degenerate", docs)
    val ids = Dedup.sketchFrame(docs).select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(ids == Set(3L, 4L, 5L, 10L, 11L, 12L), s"sketch relation kept $ids")
  }

  /** (doc_id, n_sh, k) rows, sorted: an exact multiset. */
  private def keyRows(ex: DataFrame): Seq[(Long, Int, Long)] =
    ex.select(col("doc_id"), col("n_sh"), col("k")).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq.sorted

  test("the shared key-set frame explodes to the md5-key reference at n = 3, 5, 8") {
    val degenerate = docFrame(Seq(
      1L -> "", 2L -> "   ", 3L -> "a b", 4L -> "a b c d e f g", 5L -> null,
      6L -> "é ü ß İstanbul 日本語 テキスト 例 😀 🚀", 7L -> "  A b C a B c a b c  ",
      8L -> "σ ς Σ café café σ ς Σ café"))
    for (n <- Seq(3, 5, 8); (what, docs) <- Seq("sfTiny" -> Tables.documents(spark, sfTiny),
        "degenerate" -> degenerate)) {
      val ks = Dedup.shingleKeySets(docs, n)
      assert(keyRows(ks.select(col("doc_id"), col("n_sh"), explode(col("ks")).as("k"))) ==
        keyRows(refKeys(docs, n)), s"$what: key sets differ from the reference at n=$n")
      assert(ks.filter(col("n_sh") === 0).isEmpty, s"$what: a document without an $n-shingle kept")
    }
    def ids(n: Int) = Dedup.shingleKeySets(degenerate, n).select(col("doc_id"))
      .collect().map(_.getLong(0)).toSet
    assert(ids(3) == Set(4L, 6L, 7L, 8L) && ids(8) == Set(6L, 7L, 8L), "fewer than n tokens kept")
  }

  /** Hand-built key sets as a (doc_id, n_sh, ks) frame. */
  private def keySetFrame(keys: Seq[(Long, Seq[Long])]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(keys.map { case (i, ks) =>
      Row(i, ks.size, ks) }: _*), StructType(Seq(StructField("doc_id", LongType),
      StructField("n_sh", IntegerType), StructField("ks", ArrayType(LongType, false)))))

  test("forced key collisions: the merge counts m*n, as the key join did") {
    def arr(xs: Long*) = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(xs.toArray)
    assert(SketchKernels.sortedIntersect(arr(1, 1, 2, 5), arr(1, 1, 1, 5, 7)) == 2 * 3 + 1)
    assert(SketchKernels.sortedIntersect(arr(3, 3, 3), arr(3, 3)) == 6)
    assert(SketchKernels.sortedIntersect(arr(), arr(1, 2)) == 0)
    assert(SketchKernels.sortedIntersect(arr(1, 4), arr(2, 3)) == 0)
    // the same arrays as sketch relations, verified both ways over
    // every pair: duplicate keys and disjoint pairs (which drop)
    val keys = Seq(
      1L -> Seq(1L, 1L, 2L, 5L), 2L -> Seq(1L, 1L, 1L, 5L, 7L), 3L -> Seq(5L, 9L),
      4L -> Seq(2L, 2L, 2L), 5L -> Seq(100L), 6L -> Seq(7L, 7L, 9L, 9L))
    val sk = keySetFrame(keys)
    val ex = sk.select(col("doc_id"), col("n_sh"), explode(col("ks")).as("k"))
    val every = allPairs(sk)
    Seq(0.0, 0.3, 1.01).foreach { t =>
      assert(rows(Dedup.verifyPairs(sk, every, t)) == rows(refVerify(ex, every, t)),
        s"collision verify differs at t=$t")
    }
    val at0 = rows(Dedup.verifyPairs(sk, every, 0.0)).map(r => (r._1, r._2))
    assert(at0.contains((1L, 2L)) && !at0.contains((1L, 6L)) && !at0.exists(_._1 == 5L))
  }

  test("forced key collisions: q170 counts m*n, as its key-join oracle does") {
    // doc 2's first two shingles collide on key 1: the oracle's key join
    // counts 1·2 + 1 + 1 = 4 shared keys with doc 1 (J = 4/(4+4-4) = 1.0);
    // distinct-key intersection would count 3 (J = 0.6)
    val keys = Seq(
      1L -> Seq(1L, 2L, 3L, 4L), 2L -> Seq(1L, 1L, 2L, 3L), 3L -> Seq(2L, 3L, 4L, 8L),
      4L -> Seq(5L, 6L, 7L), 5L -> Seq(5L, 6L, 7L, 9L))
    val sk = keySetFrame(keys)
    val ex = sk.select(col("doc_id"), col("n_sh"), explode(col("ks")).as("k"))
    val got = Dedup.prefixJaccardPairs(sk, 1, 2)
    assert(rows(got) == rows(refVerify(ex, allPairs(sk), 0.5)))
    val inter = got.select(col("id1"), col("id2"), col("inter")).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(inter.get((1L, 2L)).contains(4L), s"pair (1, 2) counted $inter")
  }

  test("key kernel equals conv(substring(md5(s), 1, 15), 16, 10), non-ASCII included") {
    val shingles = Seq("the a table", "é ü ß", "İstanbul ıi ẞ", "日本語 テキスト 例", "😀 🚀 x",
      "é café café", "σ ς Σ", "　 \u0085 tab", "a\uD800b c d", "", "a b c", "a b c")
    val df = spark.createDataFrame(java.util.Arrays.asList(Row(shingles)),
      StructType(Seq(StructField("sh", ArrayType(StringType, false)))))
    val got = df.select(shingleKeys(col("sh"))).head().getSeq[Long](0)
    val want = df.select(explode(col("sh")).as("s")).select(md5Key(col("s")))
      .collect().map(_.getLong(0)).toSeq.sorted
    assert(got == want)
    assert(got.forall(_ >= 0L))
  }
}
