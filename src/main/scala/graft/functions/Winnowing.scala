package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Winnowing document fingerprints (Schleimer/Wilkerson/Aiken, the MOSS
  * algorithm) — the third member of the fingerprinting family:
  * [[SampledFingerprints]] (0-mod-p) samples grams POSITION-FREE at an
  * uncontrolled per-document rate; winnowing instead slides a window of
  * W consecutive gram hashes and keeps each window's minimum, which
  * gives the GUARANTEE the other two lack: any shared substring of at
  * least W+K-1 bytes (39 here) contributes at least one shared selected
  * fingerprint, while expected density stays bounded at 2/(W+1).
  * That makes it the defensible choice when a dedup pipeline must
  * promise "no verbatim span over N bytes survives" at 100 TB.
  *
  * Same gram stream as the sampled kernel (K=32-byte grams, rolling
  * 31-polynomial mod 1e9+7 — one O(n) byte pass), then an O(n·W) scan
  * (W=8, branch-light) selecting each window's RIGHTMOST minimal hash —
  * the tie rule the oracle can spell exactly (leftmost-in-reversed-
  * slice). Selected positions dedupe (consecutive windows mostly agree),
  * and the distinct hash set returns sorted.
  *
  * Parity caveat (same as the other byte kernels): byte == character for
  * the ASCII corpus; the oracle spells the identical fold with
  * ascii(substring(...)).
  */
object Winnowing {

  /** Gram width in bytes (matches SampledFingerprints.K). */
  val K = 32

  /** Winnow window: guarantee threshold W+K-1 = 39 bytes, expected
    * density 2/(W+1) ≈ 0.22 of gram positions. */
  val W = 8

  private val M = 1000000007L

  /** Sorted distinct winnowed fingerprints of `s` (empty for |s| < K). */
  def winnowed(s: UTF8String): ArrayData = {
    val b = s.getBytes
    val n = b.length
    if (n < K) return new GenericArrayData(Array.empty[Long])
    // gram hashes h(i) for i in [0, n-K]
    val m = n - K + 1
    val hs = new Array[Long](m)
    var h = 0L
    var i = 0
    while (i < K) { h = (h * 31 + (b(i) & 0xFF)) % M; i += 1 }
    hs(0) = h
    var powK1 = 1L
    i = 0
    while (i < K - 1) { powK1 = (powK1 * 31) % M; i += 1 }
    i = K
    while (i < n) {
      h = (h - ((b(i - K) & 0xFF) * powK1) % M + M) % M
      h = (h * 31 + (b(i) & 0xFF)) % M
      hs(i - K + 1) = h
      i += 1
    }
    // winnow: rightmost minimum of each W-window of gram hashes; when
    // m < W the whole document is one (short) window
    val lastStart = math.max(0, m - W)
    val out = new scala.collection.mutable.ArrayBuilder.ofLong
    var prevSel = -1
    var w = 0
    while (w <= lastStart) {
      val end = math.min(w + W, m)
      var sel = w
      var j = w + 1
      while (j < end) { if (hs(j) <= hs(sel)) sel = j; j += 1 }
      if (sel != prevSel) { out += hs(sel); prevSel = sel }
      w += 1
    }
    val arr = out.result()
    java.util.Arrays.sort(arr)
    var wr = 0
    var r = 0
    while (r < arr.length) {
      if (wr == 0 || arr(r) != arr(wr - 1)) { arr(wr) = arr(r); wr += 1 }
      r += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(arr, wr))
  }
}

case class WinnowedFingerprintsExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"winnowed_fingerprints needs string, got ${other.catalogString}")
  }

  override protected def nullSafeEval(input: Any): Any =
    Winnowing.winnowed(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Winnowing.winnowed($c)")

  override protected def withNewChildInternal(newChild: Expression): WinnowedFingerprintsExpr =
    copy(child = newChild)

  override def prettyName: String = "winnowed_fingerprints"
}
