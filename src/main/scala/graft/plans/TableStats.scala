package graft.plans

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.SparkSession

/** Cached table statistics for planner-style decisions inside the
  * engine's own operators (the q116 ANALYZE relation made *actionable*):
  * total bytes from the filesystem summary (O(#files), no Spark job) and
  * the row count from `spark.read.parquet(path).count()`. The count reads
  * no column data, but it is not free: the read runs a schema-inference
  * job and the count, under AQE, a map job and a result job — three
  * Spark jobs, ~100 ms of job time on a 16-file table on 4 cores. Hence
  * the per-session cache; `clear` drops it after a rewrite. A writer
  * that already knows its count should keep it instead (JobPipeline's
  * stage 3 keeps its row count in its commit marker).
  *
  * Negative result: reading the parquet footers on the driver instead
  * (`ParquetFileReader`, one open per file) took 256–364 ms a call on the
  * 16-file stage-3 table, against ~210 ms of wall for the three jobs it
  * would replace, so the count stays a Spark job.
  *
  * Consumers: Similarity.nearDupPairsAuto routes exact-all-pairs vs LSH
  * by (rows, estimated in-memory corpus bytes) instead of a bare count,
  * so the O(N²) path can also be refused when rows are few but vectors
  * are wide; the kNN and ANN routers size their tiers from it. */
object TableStats {

  /** Row count and on-disk bytes of one parquet table. */
  final case class Stats(rows: Long, bytes: Long) {
    /** Average ON-DISK bytes per row (compressed parquet). */
    def avgRowBytes: Double = if (rows == 0) 0.0 else bytes.toDouble / rows
  }

  private val cache = TrieMap.empty[String, Stats]

  def clear(): Unit = cache.clear()

  /** Stats for a parquet file/dir, computed once per path per session. */
  def forParquet(s: SparkSession, path: String): Stats =
    cache.getOrElseUpdate(path, {
      // count() over a bare parquet scan reads no column (row-group
      // metadata only) but still runs jobs; bytes via the filesystem summary
      val rows = s.read.parquet(path).count()
      val p = new org.apache.hadoop.fs.Path(path)
      val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      val bytes = fs.getContentSummary(p).getLength
      Stats(rows, bytes)
    })

  /** Stats for a dataset dir's embeddings table. */
  def embeddings(s: SparkSession, d: String): Stats =
    forParquet(s, s"$d/embeddings.parquet")
}
