package graft

import java.security.MessageDigest

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.SketchFunctions._

/** Sketch kernels vs naive reimplementations written independently here. */
class SketchKernelSpec extends SparkSpec {

  private def md5hex(s: String): String =
    MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map(b => f"${b & 0xff}%02x").mkString

  // seeded generator standing in for scalacheck (bridge artifact not in
  // the offline cache)
  private val vocab = Seq("the", "a", "table", "scan", "join", "agg", "row", "x1", "y2")
  private def tokCases(n: Int): Seq[List[String]] = {
    val rnd = new scala.util.Random(7)
    (0 until n).map(_ => List.fill(rnd.nextInt(31))(vocab(rnd.nextInt(vocab.size)))).toSeq
  }

  private def runShingles(toks: Seq[String], n: Int): Seq[String] = {
    val schema = StructType(Seq(StructField("t", ArrayType(StringType))))
    spark.createDataFrame(java.util.List.of(Row(toks)), schema)
      .select(shingleArray(col("t"), n).as("sh"))
      .head().getSeq[String](0)
  }

  test("shingleArray = sliding windows, distinct, first-occurrence order") {
    val rnd = new scala.util.Random(11)
    tokCases(40).foreach { toks =>
      val n = 1 + rnd.nextInt(5)
      val expected = toks.sliding(n).filter(_.size == n).map(_.mkString(" ")).toList.distinct
      assert(runShingles(toks, n) == expected)
    }
  }

  test("simhash64 matches a naive bit-majority reimplementation") {
    tokCases(20).foreach { toks0 =>
      val toks = toks0.distinct
      val schema = StructType(Seq(StructField("t", ArrayType(StringType))))
      val got = spark.createDataFrame(java.util.List.of(Row(toks)), schema)
        .select(simhash64(col("t")).as("sk")).head().getSeq[Long](0)
      // naive: h1 = first 8 md5-hex chars as uint32, h2 = next 8
      val counts = Array.fill(64)(0)
      toks.foreach { t =>
        val hx = md5hex(t)
        val h1 = java.lang.Long.parseLong(hx.substring(0, 8), 16)
        val h2 = java.lang.Long.parseLong(hx.substring(8, 16), 16)
        for (j <- 0 until 32) {
          counts(j) += (if (((h1 >> j) & 1) == 1) 1 else -1)
          counts(32 + j) += (if (((h2 >> j) & 1) == 1) 1 else -1)
        }
      }
      var sh1 = 0L; var sh2 = 0L
      for (j <- 0 until 32) {
        if (counts(j) > 0) sh1 |= (1L << j)
        if (counts(32 + j) > 0) sh2 |= (1L << j)
      }
      assert(got == Seq(sh1, sh2))
    }
  }

  test("minhashSignature = per-seed minimum md5 hex, order-invariant") {
    tokCases(20).foreach { toks0 =>
      val toks = toks0.distinct
      if (toks.nonEmpty) {
        val schema = StructType(Seq(StructField("t", ArrayType(StringType))))
        def sig(ts: Seq[String]): Seq[String] =
          spark.createDataFrame(java.util.List.of(Row(ts)), schema)
            .select(minhashSignature(col("t"), 8).as("sig")).head().getSeq[String](0)
        val got = sig(toks)
        val expected = (0 until 8).map(h => toks.map(t => md5hex(s"$h:$t")).min)
        assert(got == expected)
        assert(sig(scala.util.Random.shuffle(toks)) == expected, "order-invariant")
      }
    }
  }

  test("hdr quantile sketch: error bound, under-estimate, additivity, streamed == batch") {
    val s = spark
    import s.implicits._
    // the registered probe on real data: every estimate is a LOWER
    // bound within the 1/16 design error (lo = key<<shift with
    // key >= 16 for v >= 16 — the whole point of the 4 sub-bucket bits)
    for (d <- Seq(sfTiny, sfSmall)) {
      val rows = Registry.byName("q230_hdr_quantiles").run(s, d).collect()
      assert(rows.length == operators.QuantileSketch.Qs.length)
      rows.foreach { r =>
        val (exact, lo, err) = (r.getAs[Long]("exact_cents"),
          r.getAs[Long]("est_lo_cents"), r.getAs[Double]("rel_err"))
        assert(lo <= exact, s"estimate above the true value: $r")
        assert(err >= 0.0 && err <= 1.0 / 16 + 1e-9,
          s"relative error past the 1/16 design bound: $r")
      }
      // streamed fold == one-shot batch, bit-for-bit (additive state)
      val streamed = Registry.byName("q231_streamed_hdr_quantiles")
        .run(s, d).collect().map(_.toSeq).toSeq
      assert(streamed == rows.map(_.toSeq).toSeq, "streamed sketch diverged")
    }
    // additivity on the sketch relation itself: sketch(A ∪ B) ==
    // key-summed sketch(A) + sketch(B), for an arbitrary value split
    val vals = (1L to 5000L).map(i => Tuple1(i * i % 99991 + 1)).toDF("v")
    val (a, b) = (vals.filter(col("v") % 3 === 0), vals.filter(col("v") % 3 =!= 0))
    val whole = operators.QuantileSketch.sketchOf(vals)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val merged = operators.QuantileSketch.sketchOf(a)
      .unionByName(operators.QuantileSketch.sketchOf(b))
      .groupBy(col("bucket_id")).agg(sum(col("c")).as("c"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(merged == whole, "bucket counts are not additive")
  }

  test("quantile sketch offset knob: zero/negative domains shift in, estimates shift back out") {
    val s = spark
    import s.implicits._
    val domain = (-500L to 500L).toSeq // includes 0 and negatives
    val vals = domain.toDF("v")
    val off = 1000L
    val res = graft.operators.QuantileSketch
      .probe(s, vals, graft.operators.QuantileSketch.sketchOf(vals, off), off)
      .collect()
    assert(res.length == 7)
    val sorted = domain.sorted
    for (r <- res) {
      val (k, exact, est, rel) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))
      assert(exact == sorted((k - 1).toInt),
        s"exact selection wrong at k=$k: $exact vs ${sorted((k - 1).toInt)}")
      assert(est <= exact, s"bucket lower bound above the exact value at k=$k")
      assert(rel <= 1.0 / 16 + 1e-9, s"shifted-domain rel_err $rel > 1/16")
    }
  }

  test("nfkc kernel: compatibility folds, casefold, idempotence, NFC composition (q233 gate)") {
    // q233 has no DuckDB oracle (only nfc_normalize ships there), so the
    // kernel itself is the gate: known Unicode compatibility pairs, the
    // properties every normalizer must satisfy, and agreement with
    // java.text.Normalizer as the independent reimplementation path
    // through SQL registration.
    val s = spark
    graft.plans.GraftExtensions.register(s)
    def nfkcOf(raw: String, cf: Boolean): String = {
      val schema = StructType(Seq(StructField("t", StringType)))
      s.createDataFrame(java.util.List.of(Row(raw)), schema)
        .selectExpr(s"graft_nfkc(t, $cf) AS n").head().getString(0)
    }
    // fixture pairs: ligature, full-width, circled digit, unit glyph,
    // compatibility+canonical mix (ﬁ + e-combining-acute)
    assert(nfkcOf("ﬁnd", false) == "find")          // ﬁ → fi
    assert(nfkcOf("ＡBC", false) == "ABC")           // Ａ → A
    assert(nfkcOf("① item", false) == "1 item")     // ① → 1
    assert(nfkcOf("5㎞", false) == "5km")            // ㎞ → km
    assert(nfkcOf("éﬁ", false) == "éfi") // composes AND folds
    // casefold: uppercase folds low; İ (U+0130) lowercases to i +
    // combining dot, which NFKC keeps decomposed (no precomposed form)
    assert(nfkcOf("ＡBC", true) == "abc")
    assert(nfkcOf("İstanbul", true) == "i̇stanbul")
    // properties over a mixed corpus slice + adversarial strings
    val fixtures = Seq("ﬁﬂ ＴＥＳＴ", "é",
      "①②③", "plain ascii", "", "MiXeD CaŞE",
      "½ + ¼", "㎞㎡㎥")
    for (f <- fixtures; cf <- Seq(false, true)) {
      val once = nfkcOf(f, cf)
      assert(nfkcOf(once, cf) == once, s"not idempotent on ${f.codePoints().toArray.mkString(",")} cf=$cf")
      // NFC ⊂ NFKC: normalizing NFC output must equal normalizing raw
      val viaNfc = java.text.Normalizer.normalize(f, java.text.Normalizer.Form.NFC)
      assert(nfkcOf(viaNfc, cf) == once, s"nfkc∘nfc != nfkc on $f cf=$cf")
      // independent reimplementation (casefold=false arm): the JDK
      // normalizer called directly
      if (!cf) assert(once ==
        java.text.Normalizer.normalize(f, java.text.Normalizer.Form.NFKC))
    }
    // the registered q233 query runs and every row's injected glyphs
    // fold (ﬁ→fi and ㎞→km each expand by one char, so len must move)
    val r = Registry.byName("q233_nfkc_normalize").run(s, sfTiny)
    assert(r.count() > 0)
    assert(r.filter(col("len_nfkc") === col("len_raw")).count() == 0,
      "NFKC never folded the injected compatibility glyphs")
  }

  test("main code spells the tokenizer and the md5-prefix hash once, in SketchFunctions") {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get(sys.props("user.dir"), "src", "main", "scala")
    assert(java.nio.file.Files.isDirectory(root), s"source root $root not found")
    def sites(pattern: String): List[String] = java.nio.file.Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .flatMap { p =>
        java.nio.file.Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (line, i) if line.contains(pattern) => s"${root.relativize(p)}:${i + 1}"
        }
      }.toList
    // oracle SQL spells its hash substr(md5(, which neither pattern matches
    for (pattern <- Seq("split(lower(trim(", "substring(md5(")) {
      val hits = sites(pattern)
      assert(hits.size == 1 && hits.head.startsWith("graft/functions/SketchExpressions.scala:"),
        s"$pattern outside SketchFunctions.toks/md5Long: $hits")
    }
  }
}
