package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Everything a workload needs: the session, its seeded inputs and the
  * run's private directory (work dirs, model store, Spark scratch). */
final case class Ctx(spark: SparkSession, tel: Telemetry, data: String, runDir: String)

/** A workload's result; each metric is (name, value, unit). */
final case class Outcome(attempted: Int, failed: Int, problems: Seq[String],
    endToEnd: Seq[(String, Double, String)], perLayer: Seq[(String, Double, String)])

trait Workload {
  /** The workload's first operation in a fresh session, from empty
    * program caches; `i` names its private work dir and model store. */
  def setUp(spark: SparkSession, data: String, runDir: String, i: Int): Unit

  /** Warm-up and measured operations, checks and metrics. */
  def run(ctx: Ctx, setupS: Double): Outcome
}

object Main {
  /** Set-ups per run; `setup_s` is their median. The first is also the
    * JVM's JIT-cold one. */
  val SetUps = 3

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val tracing = opt("trace") == "1"
    val bench: Workload = workload match {
      case "pipeline" => PipelineBench
      case "text_dedup" => DedupBench
      case w => sys.error(s"unknown workload: $w")
    }
    // set-up = a new session plus the first operation in it; the session
    // of the last set-up runs the rest
    var spark: SparkSession = null
    val setUpS = (1 to SetUps).map { i =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = graft.GraftSession.local(Runtime.getRuntime.availableProcessors.toString)
      bench.setUp(spark, opt("data"), opt("run-dir"), i)
      val s = (System.nanoTime() - t0) / 1e9
      System.err.println(f"[perfbench] set-up $i%d: $s%.3f s")
      s
    }
    val ctx = Ctx(spark, new Telemetry(spark, tracing), opt("data"), opt("run-dir"))
    val outcome = bench.run(ctx, Telemetry.median(setUpS))
    outcome.problems.foreach(p => System.err.println(s"[perfbench] check failed: $p"))
    if (tracing) writeTrace(opt("trace-file"), workload, opt("seed"), ctx.tel, outcome)
    val metrics = if (tracing) outcome.perLayer else outcome.endToEnd
    println(Json.obj(Seq(
      "correct" -> Json.bool(outcome.problems.isEmpty),
      "attempted" -> outcome.attempted.toString,
      "failed" -> outcome.failed.toString,
      "metrics" -> Json.obj(metrics.map { case (n, v, u) =>
        n -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
      }))))
    spark.stop()
  }

  private def writeTrace(path: String, workload: String, seed: String,
      tel: Telemetry, o: Outcome): Unit = {
    val spans = tel.recordedSpans
    val t0 = if (spans.isEmpty) 0L else spans.map(_.startNs).min
    val json = Json.obj(Seq(
      "workload" -> Json.str(workload),
      "seed" -> seed,
      "spans" -> Json.arr(spans.map(s => Json.obj(Seq(
        "name" -> Json.str(s.name),
        "parent" -> s.parent.toString,
        "start_s" -> Json.num((s.startNs - t0) / 1e9),
        "end_s" -> Json.num((s.endNs - t0) / 1e9))))),
      "metrics" -> Json.obj(o.perLayer.map { case (n, v, u) =>
        n -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
      })))
    Files.createDirectories(Paths.get(path).getParent)
    Files.write(Paths.get(path), (json + "\n").getBytes("UTF-8"))
  }

  /** Bytes under a directory tree, in MB. */
  def dirMb(path: String): Double = {
    def walk(f: File): Long =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.map(walk).sum else f.length
    walk(new File(path)) / (1024.0 * 1024.0)
  }
}

/** The few JSON shapes the result line needs. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def num(d: Double): String = {
    require(!d.isNaN && !d.isInfinite, s"metric is not a finite number: $d")
    java.lang.Double.toString(d)
  }
  def bool(b: Boolean): String = b.toString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
  def arr(xs: Seq[String]): String = xs.mkString("[", ", ", "]")
}
