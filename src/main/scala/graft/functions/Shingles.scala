package graft.functions

import java.util.Arrays

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Codegen kernels for the dedup pipelines.
  *
  * Spark's higher-order functions (transform/filter/aggregate) have no
  * codegen path: one HOF anywhere in a projection drops the whole
  * projection to interpreted Expression.eval recursion — measured ~10 s
  * for 5k docs of shingling. These expressions do the same work as one
  * static-kernel call per row and keep the stage in whole-stage codegen.
  */
object Shingles {

  /** FNV-1a + avalanche over the k tokens of a shingle, fed
    * incrementally (token bytes + a single space separator) — no
    * concatenation allocation. Hash family/values are internal to the
    * engine (the oracle never hashes; it compares exact string sets). */
  def shingleHash(arr: ArrayData, start: Int, k: Int): Long = {
    var h = 0xCBF29CE484222325L
    var t = 0
    while (t < k) {
      if (t > 0) { h ^= ' '.toLong; h *= 0x100000001B3L }
      h = Hashing.fnv1a(arr.getUTF8String(start + t).getBytes, h)
      t += 1
    }
    Hashing.finalizeMix(h)
  }

  /** Distinct sorted k-gram shingle hashes of a token array. */
  def compute(tokens: ArrayData, k: Int): ArrayData = {
    val n = tokens.numElements() - k + 1
    if (n <= 0) return new GenericArrayData(Array.empty[Long])
    val hs = new Array[Long](n)
    var i = 0
    while (i < n) { hs(i) = shingleHash(tokens, i, k); i += 1 }
    Arrays.sort(hs)
    var w = 1
    var r = 1
    while (r < n) {
      if (hs(r) != hs(w - 1)) { hs(w) = hs(r); w += 1 }
      r += 1
    }
    new GenericArrayData(Arrays.copyOf(hs, w))
  }

  /** MinHash signature: for each of `num` hash indices j, the min over
    * shingles of a re-keyed splitmix64 — one pass, no per-j arrays. */
  def minhashSig(sh: ArrayData, num: Int): ArrayData = {
    val mins = new Array[Long](num)
    Arrays.fill(mins, Long.MaxValue)
    val n = sh.numElements()
    var i = 0
    while (i < n) {
      val x = sh.getLong(i)
      var j = 0
      while (j < num) {
        val z = Hashing.finalizeMix(x + (j + 1) * Hashing.Golden)
        if (z < mins(j)) mins(j) = z
        j += 1
      }
      i += 1
    }
    new GenericArrayData(mins)
  }

  /** Count of the single most frequent k-gram (with multiplicity — no
    * dedup): hash every shingle, sort, longest equal run. One pass per
    * row, no shuffle — the repetition-ratio quality signal computes
    * per-document with zero data movement. Hashes are engine-internal
    * (the oracle counts exact string k-grams; a 64-bit collision merging
    * two runs is vanishing at document cardinalities). */
  def topCount(tokens: ArrayData, k: Int): Long = {
    val n = tokens.numElements() - k + 1
    if (n <= 0) return 0L
    val hs = new Array[Long](n)
    var i = 0
    while (i < n) { hs(i) = shingleHash(tokens, i, k); i += 1 }
    Arrays.sort(hs)
    var best = 1L
    var run = 1L
    var r = 1
    while (r < n) {
      if (hs(r) == hs(r - 1)) { run += 1; if (run > best) best = run }
      else run = 1
      r += 1
    }
    best
  }
}

/** ngram_top_count(tokens array<string>, k int) → long: multiplicity of
  * the most frequent k-gram in the token stream. */
case class NgramTopCountExpr(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(StringType, _), IntegerType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"ngram_top_count needs (array<string>, int), got (${l.catalogString}, ${r.catalogString})")
    }

  override protected def nullSafeEval(toks: Any, k: Any): Any =
    Shingles.topCount(toks.asInstanceOf[ArrayData], k.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (t, k) => s"graft.functions.Shingles.topCount($t, $k)")

  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)

  override def prettyName: String = "ngram_top_count"
}

/** shingle_hashes(tokens array<string>, k int) → array<long>. */
case class ShingleHashesExpr(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(StringType, _), IntegerType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"shingle_hashes needs (array<string>, int), got (${l.catalogString}, ${r.catalogString})")
    }

  override protected def nullSafeEval(toks: Any, k: Any): Any =
    Shingles.compute(toks.asInstanceOf[ArrayData], k.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (t, k) => s"graft.functions.Shingles.compute($t, $k)")

  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)

  override def prettyName: String = "shingle_hashes"
}

/** minhash_sig(shingles array<long>, num int) → array<long>. */
case class MinHashSigExpr(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), IntegerType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"minhash_sig needs (array<long>, int), got (${l.catalogString}, ${r.catalogString})")
    }

  override protected def nullSafeEval(sh: Any, num: Any): Any =
    Shingles.minhashSig(sh.asInstanceOf[ArrayData], num.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (s, n) => s"graft.functions.Shingles.minhashSig($s, $n)")

  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)

  override def prettyName: String = "minhash_sig"
}

/** poly_hash(str) → long: the 31-polynomial rolling hash mod 1e9+7 over
  * the UTF-8 bytes — codegen replacement for the interpreted
  * aggregate(transform(sequence(...))) fold (identical result for ASCII
  * text, where bytes == character codes; the corpus is ASCII). */
object PolyHash {
  def compute(s: UTF8String): Long = Hashing.poly31(s.getBytes)
}

case class PolyHashExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"poly_hash needs string, got ${other.catalogString}")
  }

  override protected def nullSafeEval(input: Any): Any =
    PolyHash.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.PolyHash.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): PolyHashExpr =
    copy(child = newChild)

  override def prettyName: String = "poly_hash"
}
