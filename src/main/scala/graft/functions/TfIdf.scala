package graft.functions

import java.io.{DataInputStream, DataOutputStream}
import java.nio.charset.StandardCharsets

import org.apache.spark.sql.{Column, DataFrame, GraftColumnBridge}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.hash.Murmur3_x86_32
import org.apache.spark.unsafe.types.UTF8String

/** A fitted TF-IDF model: the hashed feature count `dim`, the number of
  * documents it was fitted on and each bucket's document frequency. The
  * IDF weights are a pure function of those three. */
final class TfIdfModel(val dim: Int, val numDocs: Long, val docFreq: Array[Long])
    extends Serializable {
  require(dim > 0 && docFreq.length == dim, s"TF-IDF model of dim $dim has ${docFreq.length} frequencies")

  /** MLlib IDF's weight, in its operation order: log((m + 1) / (df + 1)). */
  val idf: Array[Double] = docFreq.map(df => math.log((numDocs + 1.0) / (df + 1.0)))

  /** One document's unit TF-IDF vector, dense: term counts times IDF,
    * divided by the L2 norm summed in ascending index order (MLlib's
    * Normalizer over the sorted sparse vector; the skipped zero entries
    * add +0.0). A zero-norm vector is returned as is. */
  def embed(text: UTF8String): ArrayData = {
    val v = TfIdf.termFrequencies(text.toString, dim)
    var sum = 0.0
    var k = 0
    while (k < dim) { v(k) *= idf(k); sum += v(k) * v(k); k += 1 }
    val norm = math.sqrt(sum)
    if (norm != 0.0) {
      k = 0
      while (k < dim) { v(k) /= norm; k += 1 }
    }
    UnsafeArrayData.fromPrimitiveArray(v)
  }

  override def toString: String = s"TfIdfModel(dim=$dim, numDocs=$numDocs)"
}

object TfIdfModel {
  private val Magic = 0x54464931 // "TFI1"

  def write(m: TfIdfModel, out: DataOutputStream): Unit = {
    out.writeInt(Magic)
    out.writeInt(m.dim)
    out.writeLong(m.numDocs)
    m.docFreq.foreach(out.writeLong)
  }

  def read(in: DataInputStream): TfIdfModel = {
    require(in.readInt() == Magic, "not a TF-IDF model file")
    val dim = in.readInt()
    val numDocs = in.readLong()
    new TfIdfModel(dim, numDocs, Array.fill(dim)(in.readLong()))
  }
}

/** `graft_tfidf(text)`: one document's TF-IDF vector as ARRAY<DOUBLE>
  * under a fitted [[TfIdfModel]] (a per-row kernel over a driver-side
  * model, like [[PairScores]]). Null text gives a null vector. */
case class TfIdfVector(child: Expression, model: TfIdfModel) extends UnaryExpression {
  override def prettyName: String = "graft_tfidf"
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires STRING, got ${other.catalogString}")
  }

  override def nullSafeEval(input: Any): Any = model.embed(input.asInstanceOf[UTF8String])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val m = ctx.addReferenceObj("tfidf", model)
    defineCodeGen(ctx, ev, c => s"$m.embed($c)")
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** The engine's TF-IDF embedding, bit-identical to the MLlib chain
  * RegexTokenizer("\\s+", lowercase) -> HashingTF(dim) -> IDF ->
  * Normalizer(p = 2) -> vector_to_array that it replaces:
  *
  *  - tokens: the text lowercased with `String.toLowerCase()` (the JVM's
  *    default locale, as RegexTokenizer does), split on runs of the six
  *    characters Java's `\s` matches; empty tokens dropped;
  *  - bucket: murmur3 (`hashUnsafeBytes2`, seed 42) of the token's UTF-8
  *    bytes, non-negative mod `dim` (HashingTF's Spark 3+ hash);
  *  - fit: per bucket the number of documents holding it, and the number
  *    of documents, in one `treeAggregate` (one Spark job, as MLlib's IDF
  *    fit is). The fit skips null texts, on which the MLlib tokenizer
  *    throws; transform gives them a null vector.
  *
  * TfIdfSpec compares every bit against the MLlib chain. */
object TfIdf {
  private val Seed = 42

  /** Fit the model over the `text` column of `docs`: one Spark job. */
  def fit(docs: DataFrame, text: String, dim: Int): TfIdfModel = {
    val freq = docs.select(col(text)).queryExecution.toRdd.treeAggregate(new Array[Long](dim + 1))(
      (buf, row) => if (row.isNullAt(0)) buf else addDocument(buf, row.getUTF8String(0).toString),
      mergeFrequencies)
    if (freq(0) == 0) throw new IllegalStateException("TF-IDF fit over a corpus with no document")
    new TfIdfModel(dim, freq(0), freq.tail)
  }

  /** `graft_tfidf` over a STRING column. */
  def embed(text: Column, model: TfIdfModel): Column =
    GraftColumnBridge.column(TfIdfVector(GraftColumnBridge.expression(text), model))

  /** Count one document into [numDocs, df_0 .. df_dim-1]. */
  private def addDocument(buf: Array[Long], text: String): Array[Long] = {
    val tf = termFrequencies(text, buf.length - 1)
    buf(0) += 1
    var k = 0
    while (k < tf.length) { if (tf(k) > 0) buf(k + 1) += 1; k += 1 }
    buf
  }

  private def mergeFrequencies(a: Array[Long], b: Array[Long]): Array[Long] = {
    var i = 0
    while (i < a.length) { a(i) += b(i); i += 1 }
    a
  }

  /** Dense term counts of one text over `dim` hash buckets. The text is
    * encoded once: UTF-8 never puts an ASCII byte inside a multi-byte
    * character, so splitting the bytes at ASCII whitespace yields each
    * token's own UTF-8 encoding. */
  private[functions] def termFrequencies(text: String, dim: Int): Array[Double] = {
    val bytes = text.toLowerCase().getBytes(StandardCharsets.UTF_8)
    val tf = new Array[Double](dim)
    var i = 0
    while (i < bytes.length) {
      while (i < bytes.length && isSpace(bytes(i))) i += 1
      val start = i
      while (i < bytes.length && !isSpace(bytes(i))) i += 1
      if (i > start) {
        val h = Murmur3_x86_32.hashUnsafeBytes2(bytes, Platform.BYTE_ARRAY_OFFSET + start, i - start, Seed)
        val r = h % dim
        tf(if (r < 0) r + dim else r) += 1.0
      }
    }
    tf
  }

  /** Java regex `\s`: space, \t, \n, \u000B, \f, \r. */
  private def isSpace(b: Byte): Boolean =
    b == ' ' || (b >= '\t' && b <= '\r')
}
