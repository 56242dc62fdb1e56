package graft.tools

/** Dev tool (optimization guide §1): time registered queries in
  * isolation with the noop sink — `runMain graft.tools.Probe
  * <query>[,<query>...] [sfDir] [repeats]` — so the measured number is
  * the computation, not the sink or a prunable count. Per query it
  * prints the formatted physical plan once, then per repeat the wall
  * seconds and the slowest stages (duration, tasks, shuffle bytes,
  * memory + disk spill) from the [[StageListener]]. Uses the shared
  * GraftSession so fit-once caches and the model store behave exactly
  * as in Bench. */
object Probe {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").toSeq
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val repeats = if (args.length > 2) args(2).toInt else 3
    val spark = graft.GraftSession.local()
    val listener = StageListener.attach(spark)
    graft.Tables.lineitem(spark, sfDir).count() // session warm-up
    names.foreach { name =>
      val q = graft.Registry.byName(name)
      (1 to repeats).foreach { i =>
        listener.reset()
        spark.sparkContext.setJobDescription(s"$name#$i")
        val t0 = System.nanoTime()
        val df = q.run(spark, sfDir)
        df.write.format("noop").mode("overwrite").save()
        val sec = (System.nanoTime() - t0) / 1e9
        val top = listener.stages.sortBy(-_.wallMs).take(12)
        // planned after the timed run, so printing it costs no measured time
        if (i == 1) df.explain("formatted")
        println(f"[probe] $name repeat $i: $sec%.2f s")
        top.foreach { st =>
          println(f"[probe]   stage ${st.id}%4d ${st.wallMs}%6d ms tasks=${st.tasks}%3d " +
            f"shufR=${st.shuffleRead / 1024}%8d KB shufW=${st.shuffleWrite / 1024}%8d KB " +
            f"spill=${(st.memorySpill + st.diskSpill) / 1024}%6d KB  ${st.name}")
        }
      }
      spark.sparkContext.setJobDescription(null)
    }
    spark.stop()
  }
}
