package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** [[graft.Mat]] is the engine's one materialization call: no other
  * main-code module checkpoints a DataFrame itself, and the queries
  * whose round states and shared intermediates go through it give the
  * same rows whichever mode `spark.graft.checkpoint.reliable` selects. */
class MatSpec extends SparkSpec {

  test("no main-code module calls localCheckpoint outside Mat.scala") {
    val root = Paths.get(sys.props("user.dir"), "src", "main", "scala")
    assert(Files.isDirectory(root), s"source root $root not found")
    val hits = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && p.getFileName.toString != "Mat.scala")
      .flatMap { p =>
        Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (line, i) if line.contains(".localCheckpoint(") => s"${root.relativize(p)}:${i + 1}"
        }
      }.toList
    assert(hits.isEmpty, "bare localCheckpoint calls: route them through graft.Mat")
  }

  test("reliable mode: Mat-backed queries give the default-mode rows and write checkpoints") {
    val names = Seq("q64_dup_clusters", "q166_label_propagation", "q169_kcore",
      "q192_bpe_merges_k64", "q198_streamed_curation", "q207_perplexity_terciles")
    def rows(name: String): Seq[String] =
      SparkEntry.queries(name)(spark, sfTiny).collect().map(_.toString).toSeq.sorted
    // files under the context's checkpoint dir: Mat sets it once per
    // context, so a dir set earlier in this JVM is the one that grows
    def checkpointFiles(): Int = spark.sparkContext.getCheckpointDir.fold(0) { d =>
      val p = new Path(d)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val it = fs.listFiles(p, true)
      var n = 0
      while (it.hasNext) { it.next(); n += 1 }
      n
    }
    val expected = names.map(n => n -> rows(n)).toMap
    val dir = Files.createTempDirectory("graft_mat_ckpt").toString
    spark.conf.set("spark.graft.checkpoint.reliable", "true")
    spark.conf.set("spark.graft.checkpoint.dir", dir)
    try {
      val grew = names.map { n =>
        val before = checkpointFiles()
        assert(rows(n) == expected(n), s"$n: reliable-mode rows differ from default mode")
        n -> (checkpointFiles() - before)
      }.toMap
      Seq("q166_label_propagation", "q169_kcore").foreach { n =>
        assert(grew(n) > 0, s"$n wrote no reliable checkpoint files (grew: $grew)")
      }
    } finally {
      spark.conf.unset("spark.graft.checkpoint.reliable")
      spark.conf.unset("spark.graft.checkpoint.dir")
    }
  }

  test("Mat.counted returns the rows it materialized without a count job, in both modes") {
    val df = spark.range(0, 1000, 1, 4).toDF("id").filter(col("id") % 3 === 0)
    def check(mode: String): Unit = {
      var got: (DataFrame, Long) = null
      val sites = jobSitesDuring { got = Mat.counted(df) }
      assert(got._2 == 334, s"$mode: counted ${got._2} rows")
      assert(got._1.count() == 334, s"$mode: materialized the wrong rows")
      assert(!sites.exists(_.startsWith("count at")), s"$mode: fell back to a count job: $sites")
    }
    check("local")
    spark.conf.set("spark.graft.checkpoint.reliable", "true")
    spark.conf.set("spark.graft.checkpoint.dir", Files.createTempDirectory("graft_mat_count").toString)
    try check("reliable")
    finally {
      spark.conf.unset("spark.graft.checkpoint.reliable")
      spark.conf.unset("spark.graft.checkpoint.dir")
    }
  }
}
