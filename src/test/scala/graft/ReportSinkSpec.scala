package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.sources.ReportSink
import graft.sources.ReportSink.{Pair, Strongest, TopK}

/** The pipeline's pair reports come from one bounded pass; they must
  * equal what a global sort of the pair relation puts first and last. */
class ReportSinkSpec extends SparkSpec {

  // sim ties at both ends, ids that break them in both orders, a middle
  private val rows: Seq[(Long, Long, Double)] =
    Seq((7L, 9L, 0.99), (3L, 8L, 0.99), (3L, 5L, 0.99), (1L, 12L, 0.99),
      (2L, 4L, 0.9), (1L, 6L, 0.9), (1L, 3L, 0.9), (6L, 11L, 0.9)) ++
      (0 until 40).map(i => (20L + i, 100L - i, 0.91 + (i % 13) * 0.005))

  private def relation(rs: Seq[(Long, Long, Double)]): DataFrame = {
    val ss = spark; import ss.implicits._
    rs.toDF("id1", "id2", "sim").repartition(5)
  }

  private def asPair(r: Row) = Pair(r.getLong(0), r.getLong(1), r.getDouble(2))
  private def strongest(df: DataFrame, n: Int) =
    df.orderBy(col("sim").desc, col("id1"), col("id2")).limit(n).collect().map(asPair).toSeq
  private def weakest(df: DataFrame) =
    df.orderBy(col("sim").asc, col("id1"), col("id2")).limit(1).collect().map(asPair).headOption

  test("one pass over the pairs keeps the rows the sorted limit queries return") {
    val df = relation(rows)
    assert(df.rdd.getNumPartitions == 5)
    Seq(1, 3, 20, 100).foreach { k =>
      val (top, bottom) = ReportSink.extremes(df, k)
      assert(top == strongest(df, k), s"k=$k")
      assert(bottom == weakest(df), s"k=$k")
    }
    // over committed parquet, as the pipeline calls it: one job
    val dir = Files.createTempDirectory("graft_report_sink_pass").toString
    df.write.mode("overwrite").parquet(dir)
    val committed = spark.read.parquet(dir)
    assert(ReportSink.extremes(committed, 20)._1 == strongest(df, 20))
    assert(jobsDuring(ReportSink.extremes(committed, 20)) == 1)
  }

  test("the sample table and both detail docs equal the sorted-relation reports") {
    val ss = spark; import ss.implicits._
    val df = relation(rows)
    val docs = (1L to 120L).map(i => (i, s"text of $i")).toDF("doc_id", "text")
    val dir = Files.createTempDirectory("graft_report_sink")
    def read(name: String) = Files.readString(dir.resolve(name))
    ReportSink.writePairReports(df, docs, s"$dir/sample.md", s"$dir/top.md", s"$dir/bottom.md")
    val sorted = df.orderBy(col("sim").desc, col("id1"), col("id2"))
    assert(read("sample.md") == ReportSink.toMarkdown(sorted, 20) + "\n")
    val (top, bottom) = (strongest(df, 1).head, weakest(df).get)
    assert(top == Pair(1L, 12L, 0.99) && bottom == Pair(1L, 3L, 0.9))
    Seq("top.md" -> top, "bottom.md" -> bottom).foreach { case (name, p) =>
      val doc = read(name)
      assert(doc.contains(s"**Pair:** ${p.id1} <-> ${p.id2}"), doc)
      assert(doc.contains(f"**Similarity:** ${p.sim}%.4f"), doc)
      assert(doc.contains(s"text of ${p.id1}") && doc.contains(s"text of ${p.id2}"), doc)
    }
  }

  test("an empty pair relation renders the header-only table and no-pairs docs") {
    val ss = spark; import ss.implicits._
    val df = relation(Nil)
    val dir = Files.createTempDirectory("graft_report_sink_empty")
    ReportSink.writePairReports(df, Seq((1L, "a")).toDF("doc_id", "text"),
      s"$dir/sample.md", s"$dir/top.md", s"$dir/bottom.md")
    assert(Files.readString(dir.resolve("sample.md")) == "| id1 | id2 | sim |\n| --- | --- | --- |\n")
    assert(Files.readString(dir.resolve("top.md")) ==
      "# Strongest near-duplicate pair\n\n_No pairs above threshold._\n")
    assert(Files.readString(dir.resolve("bottom.md")) ==
      "# Weakest surviving pair\n\n_No pairs above threshold._\n")
  }

  test("TopK holds at most k entries while adding and merging") {
    val rnd = new scala.util.Random(11)
    val all = rnd.shuffle((0 until 500).map(i => Pair(i.toLong, i + 1L, (i % 17) / 17.0)))
    val (a, b) = (new TopK(7, Strongest), new TopK(7, Strongest))
    all.zipWithIndex.foreach { case (p, i) =>
      (if (i % 2 == 0) a else b).add(p)
      assert(a.size <= 7 && b.size <= 7)
    }
    assert(a.merge(b).size == 7)
    assert(a.sorted == all.sorted(Strongest).take(7))
  }
}
