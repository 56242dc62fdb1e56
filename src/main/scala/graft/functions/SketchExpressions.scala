package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.functions.{conv, lower, md5, split, substring, trim}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native JVM kernels behind the sketch expressions — the scale
  * generalization of the reference's exact text dedup
  * (reference: app/preprocess_data.py:59-71 drop_duplicates on the cleaned
  * text; these sketches answer the same question when exact matching is
  * too narrow and O(N^2) comparison too expensive). Static-forwarder
  * methods so generated code can call them directly
  * (`graft.functions.SketchKernels.simhash64(arr)`).
  *
  * All hashing is md5-over-utf8 with hex-string semantics, chosen because
  * the DuckDB oracle can replay it exactly (`md5(t)`, `md5('<h>:' || s)`).
  * Hex strings compare identically to their underlying digest bytes
  * (both nibble-monotonic), so mins are computed on raw digests and only
  * rendered to hex at the end.
  */
object SketchKernels {
  private val md = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest = MessageDigest.getInstance("MD5")
  }

  private val hexChars = "0123456789abcdef".toCharArray

  private def toHex(b: Array[Byte], n: Int): UTF8String = {
    val out = new Array[Byte](n * 2)
    var i = 0
    while (i < n) {
      out(2 * i) = hexChars((b(i) >> 4) & 0xf).toByte
      out(2 * i + 1) = hexChars(b(i) & 0xf).toByte
      i += 1
    }
    UTF8String.fromBytes(out)
  }

  /** unsigned-lexicographic compare of two 16-byte digests. */
  private def lessThan(a: Array[Byte], b: Array[Byte]): Boolean = {
    var i = 0
    while (i < 16) {
      val x = a(i) & 0xff; val y = b(i) & 0xff
      if (x != y) return x < y
      i += 1
    }
    false
  }

  /** 64-bit SimHash of a string array as [sh1, sh2] (two 32-bit halves,
    * mirroring the oracle: h1 = first 8 md5-hex chars as uint32, h2 = next
    * 8; sketch bit j of each half = majority of bit j over elements). */
  def simhash64(tokens: ArrayData): ArrayData = {
    val digest = md.get()
    val counts = new Array[Int](64)
    val n = tokens.numElements()
    var i = 0
    while (i < n) {
      if (!tokens.isNullAt(i)) {
        digest.reset()
        val d = digest.digest(tokens.getUTF8String(i).getBytes)
        val h1 = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
          ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
        val h2 = ((d(4) & 0xffL) << 24) | ((d(5) & 0xffL) << 16) |
          ((d(6) & 0xffL) << 8) | (d(7) & 0xffL)
        var j = 0
        while (j < 32) {
          counts(j) += (if (((h1 >> j) & 1L) == 1L) 1 else -1)
          counts(32 + j) += (if (((h2 >> j) & 1L) == 1L) 1 else -1)
          j += 1
        }
      }
      i += 1
    }
    var sh1 = 0L; var sh2 = 0L
    var j = 0
    while (j < 32) {
      if (counts(j) > 0) sh1 |= (1L << j)
      if (counts(32 + j) > 0) sh2 |= (1L << j)
      j += 1
    }
    new GenericArrayData(Array[Any](sh1, sh2))
  }

  // per-seed "<h>:" prefix bytes, shared across rows (identical for every
  // row at a given signature length; one tiny array per numHashes ever
  // seen — in practice a single entry)
  private val prefixCache =
    new java.util.concurrent.ConcurrentHashMap[Int, Array[Array[Byte]]]()

  private def seedPrefixes(numHashes: Int): Array[Array[Byte]] =
    prefixCache.computeIfAbsent(numHashes, n =>
      Array.tabulate(n)(p => (p + ":").getBytes("UTF-8")))

  /** MinHash signature: for each seed h in [0, numHashes), the minimum
    * md5 hex string of "<h>:<element>" over the array (oracle:
    * list_min(list_transform(sh, s -> md5('<h>:' || s)))).
    *
    * Hot loop: the per-seed "<h>:" prefixes come from a per-JVM cache
    * (identical across rows), the prefix+token concat is replaced by two
    * MessageDigest.update calls, and the digest lands in a reused scratch
    * buffer that is only retained (swapped, not copied) when it is a new
    * minimum. getBytes on the shingle may still copy when the UTF8String
    * is an offheap/composite slice — unavoidable at the MessageDigest
    * API boundary. */
  def minhashSig(shingles: ArrayData, numHashes: Int): ArrayData = {
    val digest = md.get()
    val prefixes = seedPrefixes(numHashes)
    val mins = new Array[Array[Byte]](numHashes)
    var scratch = new Array[Byte](16)
    val n = shingles.numElements()
    var i = 0
    while (i < n) {
      if (!shingles.isNullAt(i)) {
        val tok = shingles.getUTF8String(i).getBytes
        var h = 0
        while (h < numHashes) {
          digest.reset()
          digest.update(prefixes(h))
          digest.update(tok)
          digest.digest(scratch, 0, 16)
          if (mins(h) == null || lessThan(scratch, mins(h))) {
            val evicted = if (mins(h) == null) new Array[Byte](16) else mins(h)
            mins(h) = scratch
            scratch = evicted
          }
          h += 1
        }
      }
      i += 1
    }
    val out = new Array[Any](numHashes)
    var h = 0
    while (h < numHashes) {
      out(h) = if (mins(h) == null) null else toHex(mins(h), 16)
      h += 1
    }
    new GenericArrayData(out)
  }

  /** Sorted 60-bit shingle keys: for each element, the first 8 bytes of
    * md5(utf8) as a big-endian long shifted right by 4 — the value of
    * `SketchFunctions.md5Long(s, 15)`, with no hex string built.
    * Ascending, duplicates kept (two shingles whose keys collide count
    * twice, as the exploded key join counted them). */
  def shingleKeys(shingles: ArrayData): ArrayData = {
    val digest = md.get()
    val scratch = new Array[Byte](16)
    val n = shingles.numElements()
    val keys = new Array[Long](n)
    var m = 0
    var i = 0
    while (i < n) {
      if (!shingles.isNullAt(i)) {
        digest.reset()
        digest.update(shingles.getUTF8String(i).getBytes)
        digest.digest(scratch, 0, 16)
        var k = 0L
        var j = 0
        while (j < 8) { k = (k << 8) | (scratch(j) & 0xffL); j += 1 }
        keys(m) = k >>> 4
        m += 1
      }
      i += 1
    }
    val out = if (m == n) keys else java.util.Arrays.copyOf(keys, m)
    java.util.Arrays.sort(out)
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** Matches between two ascending key arrays, with multiplicity:
    * Σ_k m_a(k)·m_b(k), what an equi-join on the exploded keys counts. */
  def sortedIntersect(a: ArrayData, b: ArrayData): Long = {
    val na = a.numElements(); val nb = b.numElements()
    var i = 0; var j = 0
    var inter = 0L
    while (i < na && j < nb) {
      val x = a.getLong(i); val y = b.getLong(j)
      if (x < y) i += 1
      else if (y < x) j += 1
      else {
        val i0 = i; val j0 = j
        while (i < na && a.getLong(i) == x) i += 1
        while (j < nb && b.getLong(j) == x) j += 1
        inter += (i - i0).toLong * (j - j0)
      }
    }
    inter
  }
}

/** Distinct n-word shingle kernel, split out so the object keeps static
  * forwarders for codegen call sites. */
object ShingleKernel {
  /** Distinct n-word shingles (space-joined windows, first-occurrence
    * order). Oracle mirror: list_distinct(list_transform(range(1,
    * len(toks)-(n-2)), i -> toks[i] || ' ' || ... )). */
  def shingles(tokens: ArrayData, n: Int): ArrayData = {
    val len = tokens.numElements()
    if (len < n) return new GenericArrayData(Array.empty[Any])
    val seen = new java.util.LinkedHashSet[UTF8String]()
    var i = 0
    while (i <= len - n) {
      val sb = new java.lang.StringBuilder()
      var o = 0
      while (o < n) {
        if (o > 0) sb.append(' ')
        if (!tokens.isNullAt(i + o)) sb.append(tokens.getUTF8String(i + o).toString)
        o += 1
      }
      seen.add(UTF8String.fromString(sb.toString))
      i += 1
    }
    new GenericArrayData(seen.toArray[AnyRef](new Array[AnyRef](seen.size)))
  }

  /** ALL n-word shingles in positional order (NON-distinct) — the
    * positional form q161's maximal-span merge needs: `posexplode`
    * recovers the 0-based start position of each window. Oracle mirror:
    * UNNEST(range(1, len(toks)-(n-2))) with toks[i] || ' ' || ... . */
  def shinglesAll(tokens: ArrayData, n: Int): ArrayData = {
    val len = tokens.numElements()
    if (len < n) return new GenericArrayData(Array.empty[Any])
    val out = new Array[AnyRef](len - n + 1)
    var i = 0
    while (i <= len - n) {
      val sb = new java.lang.StringBuilder()
      var o = 0
      while (o < n) {
        if (o > 0) sb.append(' ')
        if (!tokens.isNullAt(i + o)) sb.append(tokens.getUTF8String(i + o).toString)
        o += 1
      }
      out(i) = UTF8String.fromString(sb.toString)
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** Base for sketch expressions over ARRAY<STRING> input. */
abstract class SketchExpression extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires ARRAY<STRING>, got ${other.catalogString}")
  }
}

/** 64-bit SimHash sketch -> ARRAY<LONG>[sh1, sh2]. See [[SketchKernels]]. */
case class Simhash64(child: Expression) extends SketchExpression {
  override def prettyName: String = "graft_simhash64"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(input: Any): Any =
    SketchKernels.simhash64(input.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.SketchKernels.simhash64($c)")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** MinHash signature -> ARRAY<STRING> of md5-hex minima. */
case class MinhashSignature(child: Expression, numHashes: Int) extends SketchExpression {
  override def prettyName: String = "graft_minhash"
  override def dataType: DataType = ArrayType(StringType, containsNull = true)

  override def nullSafeEval(input: Any): Any =
    SketchKernels.minhashSig(input.asInstanceOf[ArrayData], numHashes)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.SketchKernels.minhashSig($c, $numHashes)")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Sorted 60-bit md5 shingle keys -> ARRAY<LONG>; see
  * [[SketchKernels.shingleKeys]]. */
case class ShingleKeys(child: Expression) extends SketchExpression {
  override def prettyName: String = "graft_shingle_keys"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(input: Any): Any =
    SketchKernels.shingleKeys(input.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.SketchKernels.shingleKeys($c)")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Sorted-merge match count of two ascending ARRAY<LONG> key arrays ->
  * LONG, multiplicity included; see [[SketchKernels.sortedIntersect]]. */
case class SortedIntersect(left: Expression, right: Expression) extends BinaryExpression {
  override def prettyName: String = "graft_sorted_intersect"
  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(LongType, _), ArrayType(LongType, _)) => TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two ARRAY<BIGINT>, got ${l.catalogString}, ${r.catalogString}")
  }

  override def nullSafeEval(a: Any, b: Any): Any =
    SketchKernels.sortedIntersect(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.SketchKernels.sortedIntersect($a, $b)")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Distinct n-word shingles -> ARRAY<STRING>. Native rather than a
  * transform/element_at HOF: the interpreted HOF lambda re-evaluates its
  * argument subtree (e.g. the regex split of the document) once per
  * element, which turns shingling into O(tokens^2) work per row; here the
  * child array is evaluated once and the window loop runs in the JVM. */
case class ShingleArray(child: Expression, n: Int) extends SketchExpression {
  override def prettyName: String = "graft_shingles"
  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def nullSafeEval(input: Any): Any =
    ShingleKernel.shingles(input.asInstanceOf[ArrayData], n)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ShingleKernel.shingles($c, $n)")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Positional (non-distinct) n-word shingles -> ARRAY<STRING> in window
  * order; see [[ShingleKernel.shinglesAll]]. Same native-not-HOF
  * rationale as [[ShingleArray]]. */
case class PosShingleArray(child: Expression, n: Int) extends SketchExpression {
  override def prettyName: String = "graft_pos_shingles"
  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def nullSafeEval(input: Any): Any =
    ShingleKernel.shinglesAll(input.asInstanceOf[ArrayData], n)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ShingleKernel.shinglesAll($c, $n)")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Unicode NFC normalization kernel (static forwarder for generated
  * code). Canonical composition is the step a multilingual pipeline runs
  * BEFORE tokenization, hashing, and dedup — "e" + COMBINING ACUTE and
  * precomposed "é" are the same text but different bytes, so every
  * md5-keyed operator upstream (exact dedup, MinHash, fingerprints)
  * silently treats them as distinct documents. Spark has no built-in
  * normalizer (SPARK-td: users reach for a Python UDF); this is the
  * native codegen form, java.text.Normalizer under the hood. The
  * isNormalized fast path makes the common case (ASCII / already-NFC
  * corpora) a scan with zero allocation. */
object TextKernels {
  def nfc(s: UTF8String): UTF8String = {
    val str = s.toString
    if (java.text.Normalizer.isNormalized(str, java.text.Normalizer.Form.NFC)) s
    else UTF8String.fromString(
      java.text.Normalizer.normalize(str, java.text.Normalizer.Form.NFC))
  }

  /** NFKC compatibility composition, optionally case-folded — what
    * multilingual LLM pipelines actually run before tokenization (NFC
    * preserves compatibility variants: ligature ﬁ, full-width Ａ,
    * circled ①, ㎞ all survive it and defeat downstream dedup/counting;
    * NFKC folds them to fi / A / 1 / km). `casefold=true` approximates
    * Unicode NFKC_Casefold with toLowerCase(ROOT) between two NFKC
    * passes — the JDK ships no UCD CaseFolding table, so full-fold
    * expansions that differ from lowercase (ß→ss, ﬅ's fold) stay at
    * their lowercase forms; the composition is idempotent by
    * construction (second NFKC re-composes anything lowercasing
    * decomposed, e.g. İ → i + combining dot). Same zero-allocation
    * fast path as [[nfc]] for already-normal ASCII corpora. */
  def nfkc(s: UTF8String, casefold: Boolean): UTF8String = {
    val str = s.toString
    val form = java.text.Normalizer.Form.NFKC
    if (!casefold && java.text.Normalizer.isNormalized(str, form)) s
    else {
      val n0 = if (java.text.Normalizer.isNormalized(str, form)) str
        else java.text.Normalizer.normalize(str, form)
      val out =
        if (!casefold) n0
        else {
          val lower = n0.toLowerCase(java.util.Locale.ROOT)
          if (java.text.Normalizer.isNormalized(lower, form)) lower
          else java.text.Normalizer.normalize(lower, form)
        }
      if (out == str) s else UTF8String.fromString(out)
    }
  }
}

/** Unicode NFC canonical composition, STRING -> STRING (oracle twin:
  * DuckDB's nfc_normalize). */
case class NfcNormalize(child: Expression) extends UnaryExpression {
  override def prettyName: String = "graft_nfc"
  override def dataType: DataType = StringType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires STRING, got ${other.catalogString}")
  }

  override def nullSafeEval(input: Any): Any =
    TextKernels.nfc(input.asInstanceOf[UTF8String])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextKernels.nfc($c)")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Unicode NFKC compatibility composition, STRING -> STRING, optionally
  * case-folded (NFKC_casefold approximation — see [[TextKernels.nfkc]]).
  * DuckDB ships only nfc_normalize, so the q233 twin is spec-gated on
  * fixture pairs + idempotence/composition properties rather than
  * oracle-paired — the established pattern for oracle-less kernels. */
case class NfkcNormalize(child: Expression, casefold: Boolean)
    extends UnaryExpression {
  override def prettyName: String = "graft_nfkc"
  override def dataType: DataType = StringType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires STRING, got ${other.catalogString}")
  }

  override def nullSafeEval(input: Any): Any =
    TextKernels.nfkc(input.asInstanceOf[UTF8String], casefold)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextKernels.nfkc($c, $casefold)")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Column-API wrappers, and the two text conventions every query and
  * its DuckDB oracle replay: the tokenizer and the md5-prefix hash. */
object SketchFunctions {
  /** Lowercased whitespace tokens; the oracle's
    * `string_split_regex(lower(trim(text)), '\s+')`. */
  def toks(c: Column): Column = split(lower(trim(c)), "\\s+")

  /** The first `hexDigits` hex digits of md5(c) as a long; the oracle's
    * `('0x' || substr(md5(c), 1, hexDigits))::BIGINT`. 8 digits give the
    * split buckets, 13 a value exact in a double, 15 the 60-bit keys.
    * Callers keep their own `% 100`, `% shards` or `% width`. */
  def md5Long(c: Column, hexDigits: Int): Column =
    conv(substring(md5(c.cast("binary")), 1, hexDigits), 16, 10).cast("long")

  def nfcNormalize(s: Column): Column =
    GraftColumnBridge.column(NfcNormalize(GraftColumnBridge.expression(s)))

  def nfkcNormalize(s: Column, casefold: Boolean = false): Column =
    GraftColumnBridge.column(
      NfkcNormalize(GraftColumnBridge.expression(s), casefold))

  def simhash64(tokens: Column): Column =
    GraftColumnBridge.column(Simhash64(GraftColumnBridge.expression(tokens)))

  def minhashSignature(shingles: Column, numHashes: Int): Column =
    GraftColumnBridge.column(
      MinhashSignature(GraftColumnBridge.expression(shingles), numHashes))

  def shingleKeys(shingles: Column): Column =
    GraftColumnBridge.column(ShingleKeys(GraftColumnBridge.expression(shingles)))

  def sortedIntersect(a: Column, b: Column): Column =
    GraftColumnBridge.column(
      SortedIntersect(GraftColumnBridge.expression(a), GraftColumnBridge.expression(b)))

  def shingleArray(tokens: Column, n: Int): Column =
    GraftColumnBridge.column(ShingleArray(GraftColumnBridge.expression(tokens), n))

  def posShingleArray(tokens: Column, n: Int): Column =
    GraftColumnBridge.column(PosShingleArray(GraftColumnBridge.expression(tokens), n))
}
