package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.ml.Pipeline
import org.apache.spark.ml.feature.{HashingTF, IDF, Normalizer, RegexTokenizer}
import org.apache.spark.ml.functions.vector_to_array
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.Embedding

/** The native TF-IDF embedding (graft.functions.TfIdf behind
  * `Embedding.embedDocs`) against the MLlib chain it replaced, which
  * stays here as the reference: the same doc ids and every bit of every
  * Double, at dim 64 and 384. */
class TfIdfSpec extends SparkSpec {

  private def withDim[T](dim: Int)(body: => T): T = {
    spark.conf.set("spark.graft.embedding.dim", dim.toString)
    try body finally spark.conf.unset("spark.graft.embedding.dim")
  }

  private def bits(v: Seq[Double]): Seq[Long] = v.map(java.lang.Double.doubleToRawLongBits)

  /** RegexTokenizer -> HashingTF -> IDF -> Normalizer(p = 2) -> vector_to_array. */
  private def reference(docs: DataFrame, dim: Int): Map[Long, Seq[Long]] =
    new Pipeline().setStages(Array(
      new RegexTokenizer().setInputCol("text").setOutputCol("toks")
        .setPattern("\\s+").setToLowercase(true),
      new HashingTF().setInputCol("toks").setOutputCol("tf").setNumFeatures(dim),
      new IDF().setInputCol("tf").setOutputCol("tfidf"),
      new Normalizer().setInputCol("tfidf").setOutputCol("emb").setP(2.0)))
      .fit(docs).transform(docs)
      .select(col("doc_id"), vector_to_array(col("emb"))).collect()
      .map(r => r.getLong(0) -> bits(r.getSeq[Double](1))).toMap

  /** Fitted on `docs` (no cache key, so always a fresh fit). */
  private def native(docs: DataFrame): Map[Long, Seq[Double]] =
    Embedding.embedDocs(docs).collect()
      .map(r => r.getLong(0) -> Option(r.getSeq[Double](1)).orNull).toMap

  private def assertIdentical(docs: DataFrame): Map[Long, Seq[Double]] =
    Seq(64, 384).map { dim =>
      withDim(dim) {
        val (want, got) = (reference(docs, dim), native(docs))
        assert(got.keySet == want.keySet)
        val differ = want.keys.filter(id => bits(got(id)) != want(id)).toSeq.sorted
        assert(differ.isEmpty, s"dim $dim: ${differ.size} of ${want.size} vectors differ " +
          s"from the MLlib chain, first doc ${differ.headOption}")
        got
      }
    }.last

  private def frame(rows: Seq[(Long, String)]): DataFrame = {
    val ss = spark; import ss.implicits._
    rows.toDF("doc_id", "text")
  }

  /** Job-posting rows rendered dirty as the benchmark's generator does:
    * HTML tags glued to words, UPPER and Title case, runs of spaces,
    * tabs, newlines and \r\n, Zipf-skewed words. */
  private def dirtyRows(n: Int, seed: Long): Seq[(Long, String)] = {
    val rnd = new scala.util.Random(seed)
    val vocab = Seq.fill(400)(Seq.fill(3 + rnd.nextInt(7))(('a' + rnd.nextInt(26)).toChar).mkString)
    val tags = Seq("<p>", "</p>", "<br/>", "<li>", "</li>", "<b>", "</b>", "<a href=\"#apply\">",
      "</a>", "<h2 class=\"role\">", "</h2>")
    val seps = Seq(" ", " ", " ", "  ", "\t", "\n", " \n  ", "\r\n")
    (0 until n).map { i =>
      val words = Seq.fill(15 + rnd.nextInt(25)) {
        val w = vocab((vocab.length * math.pow(rnd.nextDouble(), 3)).toInt)
        val r = rnd.nextDouble()
        val cased = if (r < 0.08) w.toUpperCase else if (r < 0.2) w.capitalize else w
        if (rnd.nextDouble() < 0.12) {
          val tag = tags(rnd.nextInt(tags.length))
          if (rnd.nextBoolean()) tag + cased else cased + tag
        } else cased
      }
      (i.toLong, words.map(_ + seps(rnd.nextInt(seps.length))).mkString.trim)
    }
  }

  private val edgeRows = Seq(
    1L -> "",
    2L -> "   ",
    3L -> "\t\r\n\u000B\f",
    4L -> "  leading whitespace",
    5L -> "trailing whitespace \t\r\n",
    6L -> "İstanbul İSTANBUL istanbul ISTANBUL",
    7L -> "Straße STRASSE ẞ ß",
    8L -> "ΣΊΣΥΦΟΣ σίσυφος Σ",
    9L -> "no break em　space\u0085next",
    10L -> "emoji 😀 and a lone \ud800 surrogate",
    11L -> "MiXeD CaSe mixed case",
    12L -> "job posting for a senior engineer",
    13L -> "senior engineer, remote; apply now!")

  test("sfTiny documents embed bit-identically to the MLlib chain") {
    assertIdentical(Tables.documents(spark, sfTiny).select(col("doc_id"), col("text")))
  }

  test("dirty benchmark-style rows embed bit-identically to the MLlib chain") {
    assertIdentical(frame(dirtyRows(400, seed = 3)))
  }

  test("empty, whitespace-only, leading-whitespace and non-ASCII texts embed bit-identically") {
    val got = assertIdentical(frame(edgeRows))
    Seq(1L, 2L, 3L).foreach(id => assert(got(id).forall(_ == 0.0), s"doc $id has no token"))
  }

  test("a term in every document (idf 0) and an all-zero vector embed bit-identically") {
    val rows = Seq(1L -> "shared Shared SHARED", 2L -> "shared alpha beta",
      3L -> "beta shared gamma gamma", 4L -> "SHARED\tdelta") ++
      dirtyRows(30, seed = 11).map { case (id, t) => (id + 10, s"$t shared") }
    val got = assertIdentical(frame(rows))
    assert(got(1L).forall(_ == 0.0), "doc 1 holds only the idf-0 term")
    assert(got(2L).exists(_ != 0.0))
  }

  test("null text: the MLlib chain throws; the kernel embeds it as null and skips it in the fit") {
    val rows = edgeRows ++ dirtyRows(20, seed = 5).map { case (id, t) => (id + 100, t) }
    val withNull = frame(rows :+ (99L -> null))
    withDim(64) {
      intercept[Exception](reference(withNull, 64))
      val (want, got) = (reference(frame(rows), 64), native(withNull))
      assert(got.keySet == want.keySet + 99L)
      assert(got(99L) == null)
      assert(want.forall { case (id, v) => bits(got(id)) == v })
    }
  }

  test("fit and save run one Spark job and write one file; a model left as a temp file is refit") {
    val store = Files.createTempDirectory("graft_tfidf_store").toString
    spark.conf.set("spark.graft.index.dir", store)
    Embedding.clearCaches()
    def artifacts(): Seq[java.nio.file.Path] = {
      val walk = Files.walk(java.nio.file.Paths.get(store))
      try walk.filter(p => Files.isRegularFile(p) && !p.getFileName.toString.endsWith(".crc"))
        .toArray.toSeq.map(_.asInstanceOf[java.nio.file.Path])
      finally walk.close()
    }
    // Embedding.embed(spark, sfTiny) with the documents frame built up
    // front: reading it infers the parquet schema in a job of its own
    val docs = Tables.documents(spark, sfTiny).select(col("doc_id"), col("text"))
    def embed() = Embedding.embedDocs(docs, Some(sfTiny))
    try {
      val c0 = Embedding.fitCount.get()
      assert(jobsDuring(embed()) == 1, "fit + save")
      assert(Embedding.fitCount.get() == c0 + 1)
      val Seq(artifact) = artifacts()

      // a write that crashed before its rename leaves only the temp file
      val committed = new Path(artifact.toUri)
      val fs = committed.getFileSystem(spark.sparkContext.hadoopConfiguration)
      assert(fs.rename(committed, new Path(committed.getParent, s".${committed.getName}.crashed.tmp")))
      Embedding.clearCaches()
      embed()
      assert(Embedding.fitCount.get() == c0 + 2, "a temp file was loaded as a committed model")
      assert(Files.isRegularFile(artifact), "the refit did not commit its model")

      Embedding.clearCaches()
      assert(jobsDuring(embed()) == 0, "load")
      assert(Embedding.fitCount.get() == c0 + 2)
    } finally {
      spark.conf.unset("spark.graft.index.dir")
      Embedding.clearCaches()
    }
  }
}
