package graft.sources

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** S8 — markdown report sink (reference: app/fetech_jd.py:129-184 formats
  * two sampled rows into a .md review doc). Driver-side by design: report
  * rendering is for human-scale row counts, so the only distributed work
  * is the plan that produced the rows; what is collected is bounded by
  * the row count asked for and is not part of any hot path. */
object ReportSink {

  /** Render a DataFrame as a GitHub-style markdown table. */
  def toMarkdown(df: DataFrame, maxRows: Int = 50): String =
    markdownTable(df.columns.toSeq, df.limit(maxRows).collect().toSeq.map(_.toSeq))

  private def markdownTable(cols: Seq[String], rows: Seq[Seq[Any]]): String = {
    val header = cols.mkString("| ", " | ", " |")
    val sep = cols.map(_ => "---").mkString("| ", " | ", " |")
    val body = rows.map(r =>
      r.map(v => Option(v).map(_.toString).getOrElse("")
        .replace("|", "\\|").replace("\n", " "))
        .mkString("| ", " | ", " |"))
    (Seq(header, sep) ++ body).mkString("\n")
  }

  // -------------------------------------------------------------------
  // Pair reports — the reference's sample review doc and its fetech_jd.py
  // consumer (app/fetech_jd.py:63-186): the strongest pairs as a table,
  // then the first and last rows of the similarity results, each
  // referenced id's *cleaned* document text looked up, one human-review
  // markdown doc per row with a section per participant.
  // -------------------------------------------------------------------

  /** One row of the canonical (id1, id2, sim) pair relation. */
  final case class Pair(id1: Long, id2: Long, sim: Double)

  // Spark's double order (SQLOrderingUtil.compareDoubles: -0.0 == 0.0),
  // so the kept rows are the ones a sort of the relation puts first
  private def compareSim(a: Double, b: Double): Int =
    if (a == b) 0 else java.lang.Double.compare(a, b)

  private def compareIds(a: Pair, b: Pair): Int = {
    val c = java.lang.Long.compare(a.id1, b.id1)
    if (c != 0) c else java.lang.Long.compare(a.id2, b.id2)
  }

  /** (sim desc, id1, id2): the order of the pair CSV. */
  val Strongest: Ordering[Pair] = new Ordering[Pair] {
    def compare(a: Pair, b: Pair): Int = {
      val c = compareSim(b.sim, a.sim)
      if (c != 0) c else compareIds(a, b)
    }
  }

  /** (sim asc, id1, id2): the weakest surviving pair first. */
  val Weakest: Ordering[Pair] = new Ordering[Pair] {
    def compare(a: Pair, b: Pair): Int = {
      val c = compareSim(a.sim, b.sim)
      if (c != 0) c else compareIds(a, b)
    }
  }

  /** The `k` first elements by `ord` of what was added: a heap of at
    * most `k` entries whose head is the last one kept, so an element
    * costs O(log k) and nothing is sorted until `sorted`. */
  final class TopK[T](k: Int, ord: Ordering[T]) extends Serializable {
    private val heap = new java.util.PriorityQueue[T](math.max(k, 1), ord.reverse)

    def add(x: T): this.type = {
      if (heap.size < k) heap.add(x)
      else if (k > 0 && ord.lt(x, heap.peek)) { heap.poll(); heap.add(x) }
      this
    }

    def merge(other: TopK[T]): this.type = { other.heap.forEach(x => add(x)); this }

    def size: Int = heap.size

    def sorted: Seq[T] = heap.asScala.toSeq.sorted(ord)
  }

  /** The `k` strongest pairs by (sim desc, id1, id2) and the weakest by
    * (sim asc, id1, id2), in one Spark job: a `treeAggregate` over the
    * relation (the form `TfIdf.fit` uses) keeping two bounded heaps per
    * partition, merged up the tree. */
  def extremes(pairs: DataFrame, k: Int): (Seq[Pair], Option[Pair]) = {
    val rows = pairs.select(col("id1"), col("id2"), col("sim")).queryExecution.toRdd
    val (top, bottom) = rows.treeAggregate((new TopK(k, Strongest), new TopK(1, Weakest)))(
      { case (acc, r) =>
        val p = Pair(r.getLong(0), r.getLong(1), r.getDouble(2))
        acc._1.add(p); acc._2.add(p); acc
      },
      { case (a, b) => a._1.merge(b._1); a._2.merge(b._2); a })
    (top.sorted, bottom.sorted.headOption)
  }

  private val NotFound = "[Description Not Found in Processed File]"

  /** Render one pair with joined descriptions. */
  private def renderPair(title: String, p: Pair, texts: Map[Long, String]): String =
    Seq(
      s"# $title",
      s"**Pair:** ${p.id1} <-> ${p.id2}",
      f"**Similarity:** ${p.sim}%.4f",
      "",
      s"## Document ${p.id1}",
      texts.getOrElse(p.id1, NotFound),
      "",
      "---",
      "",
      s"## Document ${p.id2}",
      texts.getOrElse(p.id2, NotFound),
      "").mkString("\n")

  /** Write the sample table of the `sampleRows` strongest pairs and the
    * detail docs of the strongest and weakest pair.
    *
    * `pairs` is the canonical (id1, id2, sim) relation; `docs` is any
    * (doc_id, text) frame (JobPipeline passes the *preprocessed* stage,
    * matching the reference's use of the cleaned descriptions). Two jobs:
    * one bounded pass over `pairs` ([[extremes]]), then the <= 4
    * referenced documents through a pushed-down `doc_id IN (...)` scan,
    * not a table collect — at 100 TB the reports cost one scan of the
    * pair relation and a 4-row point lookup. */
  def writePairReports(pairs: DataFrame, docs: DataFrame, samplePath: String,
      firstPath: String, lastPath: String, sampleRows: Int = 20): Unit = {
    // at least one strong pair is kept: the strongest-pair doc needs it
    val (top, bottom) = extremes(pairs, math.max(sampleRows, 1))
    Files.writeString(Paths.get(samplePath), markdownTable(Seq("id1", "id2", "sim"),
      top.take(sampleRows).map(p => Seq[Any](p.id1, p.id2, p.sim))) + "\n")
    val first = top.headOption
    val ids = (first ++ bottom).flatMap(p => Seq(p.id1, p.id2)).toSeq.distinct
    val texts =
      if (ids.isEmpty) Map.empty[Long, String]
      else docs.filter(col("doc_id").isin(ids: _*))
        .select(col("doc_id"), col("text")).collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
    def writeDoc(path: String, pair: Option[Pair], title: String): Unit =
      Files.writeString(Paths.get(path), pair.fold(s"# $title\n\n_No pairs above threshold._\n")(
        renderPair(title, _, texts)))
    writeDoc(firstPath, first, "Strongest near-duplicate pair")
    writeDoc(lastPath, bottom, "Weakest surviving pair")
  }
}
