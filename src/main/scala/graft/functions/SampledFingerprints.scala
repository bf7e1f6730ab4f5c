package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Selective k-gram fingerprint sampling (Manber's "approximate
  * fingerprints" / the 0-mod-p selection used by sif and Stanford MOSS's
  * predecessor): hash every K-byte gram of the document with the shared
  * 31-polynomial (mod 1e9+7, [[Hashing.poly31]] family), KEEP only
  * hashes ≡ 0 (mod P) — a deterministic, position-independent 1/P
  * sample of the document's substring set. Two documents sharing enough
  * sampled fingerprints share long verbatim substrings: a dedup signal
  * complementary to shingle-Jaccard (word-level) and MinHash
  * (set-sketch) — this one keys on LONG exact spans, so it survives
  * small global edits that dilute token Jaccard.
  *
  * One O(n) byte pass per row: the gram hash ROLLS (subtract the
  * outgoing byte's 31^(K-1) term, multiply by 31, add the incoming
  * byte), so cost is independent of K; the selected set is sorted +
  * deduped in place. Codegen is a single static call — the projection
  * stays inside whole-stage codegen.
  *
  * Parity caveat (same as poly_hash/token kernels): byte == character
  * for the ASCII corpus the oracle runs on; the DuckDB oracle spells the
  * identical per-gram fold with ascii(substring(...)).
  */
object SampledFingerprints {

  /** Gram width in bytes (~6 words of English): long enough that a
    * shared gram is near-duplication evidence, not shared vocabulary. */
  val K = 32

  /** Keep hashes ≡ 0 (mod P): a 1/P sample. */
  val P = 4

  private val M = 1000000007L
  /** 31^(K-1) mod M — the rolling subtraction term. */
  private val PowK1: Long = {
    var p = 1L
    var i = 0
    while (i < K - 1) { p = (p * 31) % M; i += 1 }
    p
  }

  /** Sorted distinct sampled fingerprints of `s` (empty for |s| < K). */
  def sampled(s: UTF8String): ArrayData = {
    val b = s.getBytes
    val n = b.length
    if (n < K) return new GenericArrayData(Array.empty[Long])
    val out = new scala.collection.mutable.ArrayBuilder.ofLong
    // first gram: straight fold
    var h = 0L
    var i = 0
    while (i < K) { h = (h * 31 + (b(i) & 0xFF)) % M; i += 1 }
    if (h % P == 0) out += h
    // roll: drop b[i-K], admit b[i]
    while (i < n) {
      h = (h - ((b(i - K) & 0xFF) * PowK1) % M + M) % M
      h = (h * 31 + (b(i) & 0xFF)) % M
      if (h % P == 0) out += h
      i += 1
    }
    val arr = out.result()
    java.util.Arrays.sort(arr)
    // in-place dedupe of the sorted run
    var w = 0
    var r = 0
    while (r < arr.length) {
      if (w == 0 || arr(r) != arr(w - 1)) { arr(w) = arr(r); w += 1 }
      r += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(arr, w))
  }
}

case class SampledFingerprintsExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"sampled_fingerprints needs string, got ${other.catalogString}")
  }

  override protected def nullSafeEval(input: Any): Any =
    SampledFingerprints.sampled(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.SampledFingerprints.sampled($c)")

  override protected def withNewChildInternal(newChild: Expression): SampledFingerprintsExpr =
    copy(child = newChild)

  override def prettyName: String = "sampled_fingerprints"
}
