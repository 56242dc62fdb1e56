package graft.plans

import java.io.{DataInputStream, DataOutputStream}
import java.nio.charset.StandardCharsets

import scala.concurrent.{Await, Promise}
import scala.concurrent.duration._
import scala.util.Try

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, GraftColumnBridge, SaveMode, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.sql.util.QueryExecutionListener
import graft.operators.ModelStore

/** Idempotent stage runner — the reference's file-existence stage cache
  * (S10: app/main.py:110-123 preprocess, :130-141 embeddings, :177-198
  * index) as a first-class engine component: each stage materializes to
  * parquet once and is skipped (read back) on re-run, so a multi-stage
  * pipeline (clean -> embed -> index -> search) restarts from the last
  * completed stage after a failure.
  *
  * A stage writes to `<root>/<name>/_DONE`-guarded parquet (or, for a
  * driver-side artifact such as a fitted model, one file); the done
  * marker (not bare directory existence) is the commit point, so a
  * half-written stage from a crashed run is transparently recomputed.
  * Markers go through the workDir's Hadoop FileSystem — the same
  * filesystem the stage data is written to — so resume works identically
  * on local disk, HDFS, or S3A (java.nio would silently break anything
  * but local paths).
  * At 100 TB each stage boundary is also the natural place to repartition
  * or bucket for the next stage's join keys. */
final class Pipeline(spark: SparkSession, root: String) {
  import Pipeline._

  private def dir(name: String) = s"$root/$name"
  private def doneMarker(name: String) = new Path(s"${dir(name)}/_DONE")
  private def fs(p: Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** True if the stage has committed output. */
  def isDone(name: String): Boolean = {
    val m = doneMarker(name)
    fs(m).exists(m)
  }

  /** Run (or skip) a stage: returns the materialized stage output. A
    * stage computed in this run is read back with the schema it was
    * written with, as the parquet reader reports it (every field
    * nullable), so no schema-inference job runs; only a resumed stage
    * infers its schema from the files. */
  def stage(name: String)(compute: => DataFrame): DataFrame =
    if (isDone(name)) spark.read.parquet(dir(name))
    else {
      val df = compute
      df.write.mode(SaveMode.Overwrite).parquet(dir(name))
      commit(name, "")
      spark.read.schema(GraftColumnBridge.asNullable(df.schema)).parquet(dir(name))
    }

  /** Stage variant for a driver-side artifact (stage 2's fitted TF-IDF
    * model): the stage dir holds one file, written to a hidden temp file
    * and renamed into place before `_DONE` commits it. A resumed run
    * reads the file on the driver and runs no Spark job. A committed dir
    * without the file (a parquet stage of an older layout) is not done:
    * it is cleared and the artifact recomputed. */
  def stageArtifact[M](name: String, read: DataInputStream => M,
      write: (M, DataOutputStream) => Unit)(compute: => M): M = {
    val file = new Path(dir(name), ArtifactFile)
    val f = fs(file)
    if (isDone(name) && f.exists(file)) ModelStore.readFile(f, file, read)
    else {
      f.delete(new Path(dir(name)), true)
      val m = compute
      ModelStore.writeFile(f, file, m, write)
      commit(name, "")
      m
    }
  }

  /** Write the stage's commit marker; `note` is kept in it for a resumed
    * run (the row count of a bucketed stage). */
  private def commit(name: String, note: String): Unit = {
    val m = doneMarker(name)
    val out = fs(m).create(m, true)
    try out.write(note.getBytes(StandardCharsets.UTF_8)) finally out.close()
  }

  /** The row count a bucketed stage's marker holds, if it is committed
    * with one (a marker written before counts were kept holds none). */
  private def committedRows(name: String): Option[Long] = {
    val m = doneMarker(name)
    val f = fs(m)
    if (!f.exists(m)) None
    else {
      val in = f.open(m)
      val note = try new String(in.readAllBytes(), StandardCharsets.UTF_8) finally in.close()
      if (note.startsWith(RowsNote)) note.stripPrefix(RowsNote).trim.toLongOption else None
    }
  }

  /** Run `write` over `df` and return the number of rows it wrote,
    * counted by a named `observe` metric as the rows pass (no extra job)
    * and read from the write's QueryExecution by a listener scoped to
    * this call; None if the listener event has not arrived within a
    * minute (events reach listeners asynchronously). Not an `Observation`
    * object: in Spark 4.1 the first one creates the session's
    * `observationManager`, a field that does not serialize, and from
    * then on every task that captures the session (an MLlib
    * LogisticRegressionModel's training summary) fails. */
  private def countedWrite(df: DataFrame)(write: DataFrame => Unit): Option[Long] = {
    val metric = s"graft_rows_${java.util.UUID.randomUUID()}"
    val rows = Promise[Long]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        qe.observedMetrics.get(metric).foreach(r => rows.trySuccess(r.getLong(0)))
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      write(df.observe(metric, count(lit(1))))
      Try(Await.result(rows.future, 1.minute)).toOption
    } finally spark.listenerManager.unregister(listener)
  }

  /** On-disk bytes of a stage's dir: a filesystem summary, no Spark job. */
  def bytes(name: String): Long = {
    val p = new Path(dir(name))
    fs(p).getContentSummary(p).getLength
  }

  /** Drop a stage's materialization (the M5 "rebuild the index" path). */
  def invalidate(name: String): Unit = {
    val m = doneMarker(name)
    val f = fs(m)
    if (f.exists(m)) f.delete(m, false)
  }

  /** Catalog table name for a bucketed stage — root-scoped so two
    * pipelines with different workDirs never collide in the catalog. */
  def bucketedTableName(name: String): String =
    s"graft_${name}_${Integer.toHexString(root.hashCode)}"

  /** Stage variant materialized as a table BUCKETED by `key` (external,
    * data at the stage dir): the "shuffle once at ingest, never per
    * query" layout — every downstream equi-join on `key` reads this side
    * with zero Exchange (asserted by JobPipelineSpec/BucketingSpec).
    * Bucket metadata lives in the session catalog; a fresh session that
    * finds the commit marker but no catalog entry rewrites the stage
    * from its (already materialized) inputs — a local layout rebuild,
    * not a recomputation of upstream stages.
    *
    * The write counts its rows as it goes (an observed metric on the
    * written relation, no extra job) and the count is kept in the
    * `_DONE` marker, so a caller sizing its next step from the stage
    * (JobPipeline's stage-4 router) runs no job to learn it, in this run
    * or a resumed one. A marker without a count is not a commit. */
  def stageBucketed(name: String, key: String, buckets: Int)
      (compute: => DataFrame): Bucketed = {
    val table = bucketedTableName(name)
    val kept = if (spark.catalog.tableExists(table)) committedRows(name) else None
    val rows = kept.getOrElse {
      spark.sql(s"DROP TABLE IF EXISTS $table")
      // the _DONE marker is underscore-prefixed, so parquet readers treat
      // it as hidden metadata and the table dir stays self-contained
      val n = countedWrite(compute)(_.write.mode(SaveMode.Overwrite)
        .bucketBy(buckets, key).sortBy(key)
        .option("path", dir(name)).format("parquet").saveAsTable(table))
        .getOrElse(spark.table(table).count())
      commit(name, s"$RowsNote$n")
      n
    }
    Bucketed(spark.table(table), rows)
  }
}

object Pipeline {
  /** The file a `stageArtifact` stage holds. */
  val ArtifactFile = "artifact"
  private val RowsNote = "rows="
}

/** A committed bucketed stage: its table and the row count its write saw. */
final case class Bucketed(table: DataFrame, rows: Long)
