package graft
object Bench {
  private def esc(s: String): String = s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  /** The committed artifact's per-query medians, parsed leniently (the
    * `queries` object holds flat name:number pairs, nothing nested) —
    * read BEFORE this run overwrites the file, to classify the run
    * against the last committed signal. */
  private def committedMedians(path: java.nio.file.Path): Map[String, Double] =
    try {
      val txt = java.nio.file.Files.readString(path)
      "\"queries\":\\{(.*?)\\}".r.findFirstMatchIn(txt).map(_.group(1)) match {
        case Some(body) =>
          "\"([^\"]+)\":([-0-9.eE+]+)".r.findAllMatchIn(body)
            .map(m => m.group(1) -> m.group(2).toDouble).toMap
        case None => Map.empty
      }
    } catch { case _: Exception => Map.empty }

  def main(args: Array[String]): Unit = BenchLock.exclusively("bench") {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // shared builder: UTC pin + persistent model store, so a fresh bench
    // JVM loads fitted models instead of paying cold fits inside the
    // first measured repeats (the round-6 q36/q56/q131 artifact spikes)
    val spark = GraftSession.local()
    // warm-up: pay session/JIT/codegen startup outside the measured loop,
    // and run queries in name order so per-query numbers are comparable
    // across rounds (a Map's iteration order would hand the warmup cost to
    // a random query each run).
    Tables.lineitem(spark, sfDir).count()
    // Noise robustness: EVERY query is measured `repeats` times and the
    // MEDIAN is reported — one contended run cannot move a query's
    // number. Only a first run past the hard cap keeps its single
    // measurement, so rehearsal-scale inputs don't triple a long run.
    // The artifact records each query's [min, median, max] — the
    // measured per-query noise floor (BASELINE.md "noise floor").
    val maxRepeats = spark.conf.get("spark.graft.bench.repeats",
      sys.env.getOrElse("SPARK_GRAFT_BENCH_REPEATS", "3")).toInt
    val hardCapSec = 30.0
    streaming.StreamingJobs.TriggerTiming.reset()
    FitTiming.reset()
    val results = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      // label the streamed jobs' per-trigger work (VERDICT r13 #6) and
      // the batch fit-once caches (VERDICT r14 #2) with this query's
      // name — accumulated across the repeats
      BenchLabel.current = name
      def once(): (Double, Option[String]) = {
        val t0 = System.nanoTime()
        // a failing query must surface as an error, not bench as "fast":
        // its elapsed time still counts, and its message lands in `errors`
        val err = try { fn(spark, sfDir).count(); None } catch {
          case e: Throwable =>
            Some(Option(e.getMessage).getOrElse(e.getClass.getName).take(300))
        }
        ((System.nanoTime() - t0) / 1e9, err)
      }
      val (t1, e1) = once()
      val runs =
        if (e1.isDefined || maxRepeats <= 1 || t1 > hardCapSec) Seq((t1, e1))
        else (t1, e1) +: Seq.fill(maxRepeats - 1)(once())
      val times = runs.map(_._1).sorted
      (name, times(times.size / 2), runs.flatMap(_._2).headOption, times)
    }
    def s3(v: Double): String = java.math.BigDecimal.valueOf(v)
      .setScale(3, java.math.RoundingMode.HALF_UP).toPlainString
    val qs = results.map { case (k, v, _, _) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val spread = results.map { case (k, _, _, ts) =>
      s"\"" + k + "\":[" + ts.map(s3).mkString(",") + "]" }
      .mkString("{", ",", "}")
    val errs = results.collect { case (k, _, Some(m), _) =>
      "\"" + k + "\":\"" + esc(m) + "\"" }.mkString("{", ",", "}")
    // streamed work-vs-wait attribution (VERDICT r13 #6): for each
    // streamed query, the summed foreachBatch busy seconds and trigger
    // count across its repeats — wall (in `spread`) minus work is the
    // trigger-wait share, which is where host-load sensitivity lives, so
    // a cross-round streamed swing is classifiable from the artifact
    // alone (tools/bench_diff.py "stream-wait" rule)
    val streamTimes = streaming.StreamingJobs.TriggerTiming.snapshot
    val stream = results.flatMap { case (k, _, _, _) =>
      streamTimes.get(k).map { case (batches, nanos) =>
        s"\"" + k + "\":{\"work\":" + s3(nanos / 1e9) +
          ",\"batches\":" + batches + "}" }
    }.mkString("{", ",", "}")
    // batch cache attribution (VERDICT r14 #2, the TriggerTiming
    // discipline for fit-once caches): per query, how many instrumented
    // cache lookups HIT vs FIT and the summed fit wall — so a
    // cross-round swing on a cache-backed query (the BPE chain, tf/lens,
    // IVF/LSH) classifies from the artifacts alone: identical
    // (hits, fits) with flat fit_sec = load on identical work; a fits
    // delta = one run paid a cold fit (tools/bench_diff.py cold-fit rule)
    val fitStats = FitTiming.snapshot
    val caches = results.flatMap { case (k, _, _, _) =>
      fitStats.get(k).map { case (hits, fits, nanos) =>
        s"\"" + k + "\":{\"hits\":" + hits + ",\"fits\":" + fits +
          ",\"fit_sec\":" + s3(nanos / 1e9) + "}" }
    }.mkString("{", ",", "}")
    val total = results.map(_._2).sum
    val line = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"spread":$spread,"errors":$errs,"stream":$stream,"caches":$caches,"sf":"$sfDir"}"""
    // Locale-pinned rounding (ADVICE r9): the f-interpolator's %.3f uses
    // the default JVM locale, which under a comma-decimal locale would
    // print `"value":210,957` and break the driver's JSON parse.
    val totalStr = s3(total)
    val compact = s"""{"metric":"total","value":$totalStr,"unit":"sec","n_queries":${results.size},"n_errors":${results.count(_._3.isDefined)},"sf":"$sfDir"}"""
    // The full artifact goes to the FILE; stdout carries only what the
    // driver's ~2,000-char tail can hold whole (VERDICT r13 #5: the full
    // per-query map is ~6 KB, so printing it front-truncated the tail and
    // only 47/221 spreads reached BENCH_r13 — while the same map already
    // lived in this file). Path override: SPARK_GRAFT_BENCH_OUT.
    val sfName = new java.io.File(sfDir).getName
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", s"bench_$sfName.json")
    // out-of-band rows vs the COMMITTED artifact (read before overwrite):
    // median > 2x committed AND +0.75s absolute — the same first-pass
    // screen bench_diff applies, so the driver tail itself says which
    // queries moved and by how much, without needing the truncated map
    val committed = committedMedians(java.nio.file.Paths.get(outPath))
    val oob = results.flatMap { case (k, v, _, _) =>
      committed.get(k).collect {
        case c if v > 2 * c && v - c > 0.75 => (k, c, v)
      }
    }.sortBy { case (_, c, v) => c - v }.take(12)
    // committed-artifact weather guard (VERDICT r14 What's-wrong #1: a
    // weather-inflated final refresh silently replaced a quiet run —
    // +18 s spread uniformly across untouched families). If this run's
    // global factor vs the committed artifact exceeds 1.1, DIVERT the
    // write to a `.hot` sidecar instead of overwriting, so the
    // convention ("run 2-3×, commit the best honest run") is enforced
    // mechanically. Override with SPARK_GRAFT_BENCH_FORCE=1 (a real
    // regression that moves the global factor is committed that way,
    // with the diff attributing it). Inert when the target file has no
    // parseable history (fresh path — the driver's per-round artifact).
    val commonPairs = results.flatMap { case (k, v, _, _) =>
      committed.get(k).map(c => (v, c)) }
    val hotFactor =
      if (commonPairs.size >= 20)
        commonPairs.map(_._1).sum / commonPairs.map(_._2).sum
      else 1.0
    val hot = hotFactor > 1.1 && !sys.env.contains("SPARK_GRAFT_BENCH_FORCE")
    val oobLine = s"""{"metric":"oob_vs_committed","n_oob":${oob.size},"known":${committed.nonEmpty},"factor":${s3(hotFactor)},"hot":$hot,"rows":${
      oob.map { case (k, c, v) => s"\"" + k + "\":[" + s3(c) + "," + s3(v) + "]" }
        .mkString("{", ",", "}")}}"""
    val writePath = if (hot) outPath + ".hot" else outPath
    if (hot) System.err.println(
      s"[bench] global factor ${s3(hotFactor)}x vs the committed artifact exceeds 1.1 " +
        s"- diverting to $writePath (set SPARK_GRAFT_BENCH_FORCE=1 to overwrite)")
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(writePath), line + "\n")
    catch { case e: Exception =>
      System.err.println(s"[bench] artifact write failed: ${e.getMessage}") }
    if (results.exists(_._3.isDefined)) System.err.println(
      s"[bench] ${results.count(_._3.isDefined)} queries FAILED — totals are not comparable")
    // Stop the session BEFORE printing, so the JSON is the FINAL stdout
    // line of the run — the driver tail-parses stdout and anything Spark
    // emits during shutdown after an early print could bury it. The oob
    // line prints first, the compact line LAST (the driver's 2,000-char
    // tail must always contain it whole — and with the oob line capped at
    // 12 rows the tail usually holds both).
    spark.stop()
    println(oobLine)
    println(compact)
  }
}
