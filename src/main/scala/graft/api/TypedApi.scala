package graft.api

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Typed Dataset edge of the engine (SURVEY §1.4: case-class Encoders
  * where type safety helps — the API boundary — while the engine interior
  * stays Column-expression DataFrames for codegen).
  *
  * The reference's row types are implicit (pandas object-dtype rows,
  * SURVEY §1.3); here they are compile-time schemas. Encoder-generated
  * serializers keep typed filters/maps inside Tungsten rows — but note
  * that a `.map` on a Dataset is still a JVM-lambda boundary, so the
  * engine uses these types at edges (ingest validation, API results), not
  * in hot loops. */
object TypedApi {

  final case class Document(doc_id: Long, text: String, lang: String,
      source: String, n_chars: Long)

  final case class EmbeddingRow(vec_id: Long, embedding: Seq[Float], label: Int)

  final case class NearDupPair(id1: Long, id2: Long, sim: Double)

  /** documents as a typed Dataset (schema validated by the encoder —
    * a missing/mistyped column fails analysis, not a downstream NPE). */
  def documents(spark: SparkSession, sfDir: String): Dataset[Document] = {
    import spark.implicits._
    Tables.documents(spark, sfDir).as[Document]
  }

  /** embeddings as a typed Dataset. */
  def embeddings(spark: SparkSession, sfDir: String): Dataset[EmbeddingRow] = {
    import spark.implicits._
    Tables.embeddings(spark, sfDir).as[EmbeddingRow]
  }

  /** near-dup pairs (the engine's flagship output) as typed results. */
  def nearDupPairs(spark: SparkSession, sfDir: String, threshold: Double): Dataset[NearDupPair] = {
    import spark.implicits._
    graft.operators.Similarity
      .nearDupPairs(spark, sfDir, threshold)
      .as[NearDupPair]
  }
}
