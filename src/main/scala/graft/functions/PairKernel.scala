package graft.functions

import java.util.concurrent.atomic.LongAdder

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, GraftColumnBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData, SQLOrderingUtil}
import org.apache.spark.sql.functions.{col, inline}
import org.apache.spark.sql.types._

/** The exact pair tiers' relation, packed once on the driver: ids
  * ascending (duplicates kept, in collect order), each vector widened to
  * `double[]` with null elements as 0, its squared norm, and — for a
  * sparse vector with a finite norm — the ascending list of its non-zero
  * indices (null otherwise: the kernel then walks the dense array). */
final class PackedVectors(val ids: Array[Long], val vecs: Array[Array[Double]])
    extends Serializable {
  require(ids.length == vecs.length, "one vector per id")
  val sq: Array[Double] = vecs.map(PairKernel.squaredNorm)
  val nonZeros: Array[Array[Int]] = vecs.indices.map(i => PairKernel.nonZeros(vecs(i), sq(i))).toArray

  def size: Int = ids.length

  /** Position of the first row whose id is greater than `id`. */
  def after(id: Long): Int = {
    var lo = 0; var hi = ids.length
    while (lo < hi) {
      val m = (lo + hi) >>> 1
      if (ids(m) <= id) lo = m + 1 else hi = m
    }
    lo
  }
}

/** One streamed row of an exact self-pair tier against the packed
  * relation: every packed row with a larger id whose cosine passes
  * `min`, as ARRAY<STRUCT<id2, cos>> (the [[NearestCells]] shape — a
  * per-row kernel over a driver-side matrix, expanded by `inline`).
  *
  * `cos` is bit-for-bit [[CosineSimilarity]]: the dot over the common
  * prefix summed in ascending index order, norms over each full array,
  * 0.0 when either norm is 0, else dot / sqrt(sx·sy). The sparse path
  * sums only indices where the sparser vector is non-zero; every skipped
  * product is an exact ±0.0, and adding one to a sum that starts at +0.0
  * never changes it. A non-finite norm (an infinite or NaN element,
  * whose product with 0 is NaN) always takes the dense loop. `min` is
  * compared with Spark's own double ordering, so a NaN cosine passes,
  * as it does `cos >= t` in SQL. A null id or vector scores nothing. */
case class PairScores(id: Expression, vec: Expression, packed: Broadcast[PackedVectors],
    min: Double) extends BinaryExpression with CodegenFallback {
  override def left: Expression = id
  override def right: Expression = vec
  override def prettyName: String = "graft_pair_kernel"

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("id2", LongType, nullable = false),
    StructField("cos", DoubleType, nullable = false))), containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = (id.dataType, vec.dataType) match {
    case (LongType, ArrayType(FloatType | DoubleType, _)) => TypeCheckResult.TypeCheckSuccess
    case (i, v) => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a bigint id and a float or double array, got " +
        s"${i.catalogString} / ${v.catalogString}")
  }

  override protected def nullSafeEval(idv: Any, v: Any): Any = {
    val p = packed.value
    val from = p.after(idv.asInstanceOf[Long])
    val x = PairKernel.widen(v.asInstanceOf[ArrayData], vec.dataType.asInstanceOf[ArrayType].elementType)
    val sx = PairKernel.squaredNorm(x)
    val xnz = PairKernel.nonZeros(x, sx)
    val out = new ArrayBuffer[InternalRow]
    var j = from
    while (j < p.size) {
      val c = PairKernel.cosine(x, sx, xnz, p.vecs(j), p.sq(j), p.nonZeros(j))
      if (SQLOrderingUtil.compareDoubles(c, min) >= 0)
        out += InternalRow(p.ids(j), c)
      j += 1
    }
    PairKernel.scored.add(p.size - from)
    new GenericArrayData(out.toArray[Any])
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(id = l, vec = r)
}

/** The one exact pair kernel behind pipeline stage 4
  * (`JobPipeline.exactPairs`) and `Similarity.nearDupPairs` (q31/q54 and
  * the exact side of the ANN recall gates).
  *
  * Both tiers used to plan a BroadcastNestedLoopJoin whose condition ran
  * [[CosineSimilarity]] per pair over `UnsafeArrayData`, recomputing both
  * norms every time, and stage 4 rounded every pair's cosine: 2.9–3.6 µs
  * of task time a pair on the pipeline's 384-d TF-IDF vectors, against
  * 0.42–0.50 µs here, the pack included (SCALE.md, "strategy switch").
  * Here the relation is [[pack]]ed once (norms and non-zero lists
  * precomputed; TF-IDF rows are ~15 % non-zero) and each streamed row
  * scores only the packed rows with a larger id, found by binary search:
  * each unordered pair once, with no per-pair id test. The callers round
  * survivors only.
  *
  * Memory envelope: the callers' stats routers admit the exact tier only
  * under `exactPairCutoff` rows and `exactPairMaxBytes` on-disk bytes,
  * the relation the nested-loop join used to broadcast. The driver
  * collects it and broadcasts rows × dim × 8 bytes of doubles plus
  * 4 bytes per stored non-zero index (twice a float corpus's decoded
  * bytes): 3.9 MB for 1,275 × 384-d, 61 MB at 20,000 × 384-d. */
object PairKernel {

  /** Candidate pairs scored by kernel evaluations in this JVM; a local-mode
    * probe of the work a plan does, read by the specs. */
  val scored = new LongAdder

  /** Collect (id, vec) rows with a non-null id and vector into a
    * [[PackedVectors]] broadcast. Eager: it runs one Spark job. The
    * caller owns the handle — destroy it once the pairs are committed,
    * or leave it to the ContextCleaner. */
  def pack(df: DataFrame, id: String, vec: String): Broadcast[PackedVectors] = {
    val sel = df.select(col(id), col(vec)).where(col(id).isNotNull && col(vec).isNotNull)
    val elem = sel.schema(1).dataType match {
      case ArrayType(t @ (FloatType | DoubleType), _) if sel.schema(0).dataType == LongType => t
      case _ => throw new IllegalArgumentException(
        s"pair kernel needs a bigint id and a float or double array, got ${sel.schema.simpleString}")
    }
    val rows = sel.queryExecution.toRdd.map(r => (r.getLong(0), widen(r.getArray(1), elem)))
      .collect().sortBy(_._1)
    df.sparkSession.sparkContext.broadcast(new PackedVectors(rows.map(_._1), rows.map(_._2)))
  }

  /** Self pairs (id1, id2, cos) of `df` with id1 < id2 and cos passing
    * `min`, streamed over `graft.plans.Spread(df)` against `packed`,
    * which must hold the same (id, vec) relation. */
  def pairs(df: DataFrame, id: String, vec: String, packed: Broadcast[PackedVectors],
      min: Double): DataFrame = {
    val kernel = PairScores(GraftColumnBridge.expression(col("id1")),
      GraftColumnBridge.expression(col("v1")), packed, min)
    graft.plans.Spread(df.select(col(id).as("id1"), col(vec).as("v1")))
      .select(col("id1"), inline(GraftColumnBridge.column(kernel)))
  }

  /** A float or double array as doubles, null elements as 0. */
  private[functions] def widen(a: ArrayData, t: DataType): Array[Double] = {
    val out = new Array[Double](a.numElements())
    var i = 0
    while (i < out.length) {
      if (!a.isNullAt(i)) out(i) = if (t == FloatType) a.getFloat(i).toDouble else a.getDouble(i)
      i += 1
    }
    out
  }

  /** Σ v_k², summed in index order. */
  private[functions] def squaredNorm(v: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < v.length) { s += v(i) * v(i); i += 1 }
    s
  }

  /** Ascending non-zero indices of a vector with a finite squared norm
    * `sq`, when at most half its entries are non-zero; null otherwise. */
  private[functions] def nonZeros(v: Array[Double], sq: Double): Array[Int] = {
    if (!java.lang.Double.isFinite(sq)) return null
    var n = 0; var i = 0
    while (i < v.length) { if (v(i) != 0.0) n += 1; i += 1 }
    if (2 * n > v.length) return null
    val out = new Array[Int](n)
    n = 0; i = 0
    while (i < v.length) { if (v(i) != 0.0) { out(n) = i; n += 1 }; i += 1 }
    out
  }

  /** [[CosineSimilarity]] from precomputed squared norms and non-zero lists. */
  private[functions] def cosine(x: Array[Double], sx: Double, xnz: Array[Int],
      y: Array[Double], sy: Double, ynz: Array[Int]): Double = {
    var dot = 0.0
    if (xnz != null && (ynz == null || xnz.length <= ynz.length) &&
        java.lang.Double.isFinite(sy)) dot = sparseDot(xnz, x, y)
    else if (ynz != null && java.lang.Double.isFinite(sx)) dot = sparseDot(ynz, y, x)
    else {
      val n = math.min(x.length, y.length)
      var i = 0
      while (i < n) { dot += x(i) * y(i); i += 1 }
    }
    if (sx == 0.0 || sy == 0.0) 0.0 else dot / math.sqrt(sx * sy)
  }

  /** Σ a_k·b_k over the ascending indices `nz` that lie inside `b`. */
  private def sparseDot(nz: Array[Int], a: Array[Double], b: Array[Double]): Double = {
    var dot = 0.0; var i = 0
    while (i < nz.length && nz(i) < b.length) { val k = nz(i); dot += a(k) * b(k); i += 1 }
    dot
  }
}
