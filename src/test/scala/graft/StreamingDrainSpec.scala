package graft

import java.io.File

import org.apache.spark.sql.functions._
import graft.streaming.StreamingJobs

/** StreamingJobs.drain, the one driver behind every streamed twin's
  * registered query: it stages under spark.graft.stream.stageDir, hands
  * back materialized state, and leaves no staging dir behind — after a
  * normal drain and after a failing batch alike. */
class StreamingDrainSpec extends SparkSpec {

  private def withStageRoot[T](body: File => T): T = {
    val root = java.nio.file.Files.createTempDirectory("graft_drain_root").toFile
    spark.conf.set("spark.graft.stream.stageDir", root.toString)
    try body(root)
    finally {
      spark.conf.unset("spark.graft.stream.stageDir")
      root.delete() // only succeeds on the empty root the tests expect
    }
  }

  private def input = spark.range(0, 30)
    .select(col("id").as("k"), (col("id") % 4).as("g"), col("id").as("v"))

  test("drain stages under the configured root and returns state that outlives the dir") {
    withStageRoot { root =>
      val dirs = scala.collection.mutable.Set.empty[String]
      val state = StreamingJobs.drain(spark, "graft_drain", input, "k", 3) { (b, id, dir) =>
        dirs += dir
        StreamingJobs.applyAggBatch(spark, b, id, "g", "v", dir)
      }
      assert(dirs.size == 1, s"one state dir per drain, got $dirs")
      assert(dirs.head.startsWith(root.toString), s"${dirs.head} not under $root")
      assert(!new File(dirs.head).exists, "the state dir outlived the drain")
      assert(root.list().isEmpty, s"root not empty: ${root.list().mkString(", ")}")
      val got = state.orderBy("g").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      val want = (0 until 4).map { g =>
        val xs = (0 until 30).filter(_ % 4 == g)
        (g.toLong, xs.size.toLong, xs.sum.toLong)
      }
      assert(got == want, "drained state is not the fold of every slice once")
    }
  }

  test("a batch that throws leaves the root empty and the exception propagates") {
    withStageRoot { root =>
      val e = intercept[IllegalStateException] {
        StreamingJobs.drain(spark, "graft_drain", input, "k", 3) { (b, id, dir) =>
          if (id == 1L) throw new IllegalStateException("batch 1 failed")
          StreamingJobs.applyAggBatch(spark, b, id, "g", "v", dir)
        }
      }
      assert(e.getMessage == "batch 1 failed")
      assert(root.list().isEmpty, s"root not empty: ${root.list().mkString(", ")}")
      intercept[IllegalArgumentException] {
        StreamingJobs.drain(spark, "graft_drain", input, "k", 0) { (_, _, _) => true }
      }
      assert(root.list().isEmpty)
    }
  }

  test("every drained registry query leaves the staging root empty") {
    val drained = Seq("q134_streamed_heavy_hitters", "q153_streamed_dup_clusters",
      "q154_streamed_cms", "q155_streamed_sample", "q159_streamed_index",
      "q168_streamed_hll", "q174_streamed_windowed_hll", "q180_streamed_class_tfidf",
      "q185_streamed_mixture", "q198_streamed_curation", "q204_streamed_token_counts",
      "q209_streamed_lm", "q231_streamed_hdr_quantiles", "q225_streamed_cell_balance")
    withStageRoot { root =>
      drained.foreach { name =>
        val rows = Registry.byName(name).run(spark, sfTiny).count()
        assert(rows > 0, s"$name returned no rows")
        assert(root.list().isEmpty, s"$name leaked ${root.list().mkString(", ")}")
      }
    }
  }
}
