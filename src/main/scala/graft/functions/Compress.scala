package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Compressibility kernel for the classic curation signal: DEFLATE
  * output length per document. Highly repetitive / template text
  * compresses far below natural prose, and near-random noise barely
  * compresses at all, so the ratio `deflate_len(text) / length(text)`
  * separates both failure modes with ONE cheap, language-agnostic pass
  * (the filter the Gopher/MassiveText pipeline applied corpus-wide
  * before anything model-based).
  *
  * Level-6 raw deflate (nowrap), fixed strategy: deterministic for a
  * given input. No DuckDB oracle exists for deflate, so the consuming
  * query (x_compress_ratio) is declared rows-only and spec-pinned.
  * The codegen path is one static call, keeping the scan inside
  * whole-stage codegen (allocation per row is the Deflater itself,
  * dwarfed by the compression work).
  */
object Compress {

  def deflateLen(s: UTF8String): Long = {
    val in = s.getBytes
    val d = new java.util.zip.Deflater(6, true)
    d.setInput(in)
    d.finish()
    val buf = new Array[Byte](8192)
    var total = 0L
    while (!d.finished()) total += d.deflate(buf)
    d.end()
    total
  }
}

case class DeflateLenExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"deflate_len needs string, got ${other.catalogString}")
  }

  override protected def nullSafeEval(input: Any): Any =
    Compress.deflateLen(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Compress.deflateLen($c)")

  override protected def withNewChildInternal(newChild: Expression): DeflateLenExpr =
    copy(child = newChild)

  override def prettyName: String = "deflate_len"
}
