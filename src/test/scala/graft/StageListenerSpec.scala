package graft

import org.apache.spark.sql.functions._
import graft.tools.StageListener

/** The dev tools' stage listener: rows for the stages of a window's
  * work, named after their job, totals as their sums, and reset()
  * starting an empty window. */
class StageListenerSpec extends SparkSpec {

  test("a shuffle query's stages carry shuffle-write bytes and tasks; reset() zeroes them") {
    val listener = StageListener.attach(spark)
    try {
      listener.reset()
      spark.range(0, 20000, 1, 4).groupBy(col("id") % 7).count().collect()
      assert(listener.total(_.shuffleWrite) > 0, listener.stages)
      assert(listener.total(_.tasks.toLong) > 0, listener.stages)
      listener.reset()
      assert(listener.stages.isEmpty)
      assert(listener.total(_.shuffleWrite) == 0 && listener.total(_.tasks.toLong) == 0)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("under adaptive execution each stage row carries its job's description, else its SQL execution's") {
    assert(spark.conf.get("spark.sql.adaptive.enabled").toBoolean)
    val listener = StageListener.attach(spark)
    def shuffleQuery(): Unit = spark.range(0, 20000, 1, 4).groupBy(col("id") % 7).count().collect()
    try {
      listener.reset()
      spark.sparkContext.setJobDescription("listener-spec aqe query")
      try shuffleQuery() finally spark.sparkContext.setJobDescription(null)
      assert(listener.stages.size >= 2 && listener.stages.forall(_.name == "listener-spec aqe query"),
        listener.stages)
      listener.reset()
      shuffleQuery()
      assert(listener.stages.size >= 2 &&
        listener.stages.forall(_.name.startsWith("collect at StageListenerSpec.scala")), listener.stages)
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
