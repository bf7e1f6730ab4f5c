package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

/** 64-bit SimHash of a token array, as a native Catalyst expression
  * (SURVEY.md §7.3 preference order: custom Expression over UDF — the
  * generated code calls a static kernel, so surrounding operators stay
  * inside whole-stage codegen; no closure serialization, no per-row
  * Row conversion).
  *
  * simhash = sign-aggregate of each token's 64-bit hash: bit i of the
  * result is 1 iff more tokens have bit i set than unset. Similar token
  * multisets → small Hamming distance.
  */
object SimHash {

  /** FNV-1a over UTF-8 bytes + splitmix64 avalanche (shared kernels in
    * [[Hashing]]) — deterministic across JVMs. */
  def hash64(bytes: Array[Byte]): Long =
    Hashing.finalizeMix(Hashing.fnv1a(bytes))

  /** Static kernel shared by interpreted eval and generated code. */
  def compute(arr: ArrayData): Long = {
    val counts = new Array[Int](64)
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val h = hash64(arr.getUTF8String(i).getBytes)
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
          b += 1
        }
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) {
      if (counts(b) > 0) out |= (1L << b)
      b += 1
    }
    out
  }

  def hamming(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)
}

case class SimHash64(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"simhash64 needs array<string>, got ${other.catalogString}")
  }

  override protected def nullSafeEval(input: Any): Any =
    SimHash.compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.SimHash.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)

  override def prettyName: String = "simhash64"
}
