package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Vector math over `ARRAY<FLOAT>` / `ARRAY<DOUBLE>` columns, expressed as
  * higher-order-function Column expressions so they stay inside Catalyst
  * (no UDF, no serialization boundary; `zip_with`/`aggregate` are evaluated
  * by `HigherOrderFunction` expressions that whole-stage codegen can inline
  * around).
  *
  * Semantics mirror the reference's numpy/faiss kernels
  * (reference: app/vector_search.py:143-205 L2 search; app/evaluation.py:24-27
  * L2->cosine conversion; app/evaluation.py:194 direct cosine).
  */
object VectorFunctions {

  /** Dot product of two numeric arrays: sum_i a_i * b_i (double). */
  def dot(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0),
      (acc, x) => acc + x)

  /** Squared L2 norm. */
  def normSq(a: Column): Column =
    aggregate(a, lit(0.0), (acc, x) => acc + x.cast("double") * x.cast("double"))

  /** L2 norm ||a||. */
  def norm(a: Column): Column = sqrt(normSq(a))

  /** Cosine similarity a.b / (||a|| ||b||); no clipping. */
  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Squared L2 distance sum_i (a_i - b_i)^2. */
  def l2DistSq(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => {
        val d = x.cast("double") - y.cast("double")
        d * d
      }),
      lit(0.0),
      (acc, x) => acc + x)

  /** Faiss-style L2-distance -> cosine conversion for unit vectors:
    * cos = 1 - d^2/2, clipped to [-1, 1]
    * (reference: app/evaluation.py:24-27; used app/main.py:250). */
  def l2ToCosine(dist: Column): Column =
    least(lit(1.0), greatest(lit(-1.0), lit(1.0) - pow(dist, 2) / 2))

  /** L2-normalize an array column to unit length (zero vectors pass through
    * unchanged rather than producing NaN). */
  def l2Normalize(a: Column): Column = {
    val n = norm(a)
    transform(a, x => when(n === 0.0, x.cast("double")).otherwise(x.cast("double") / n))
  }
}
