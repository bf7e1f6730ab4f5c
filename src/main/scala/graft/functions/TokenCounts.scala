package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Token-counting kernels for x_token_count — the top bench cost was the
  * `regexp_extract_all` projection (regex engine + match-list
  * materialization per row, ~7 s at sf0.1 just to take a length). Both
  * counts are single-pass byte-scan state machines with no allocation,
  * and the codegen path is one static call, so the scan stays in
  * whole-stage codegen.
  *
  * Semantics (pinned to the DuckDB oracle for ASCII text, where bytes ==
  * character codes — same documented caveat as poly_hash):
  *  - ws_token_count(s): number of maximal runs of non-space bytes —
  *    `len(list_filter(string_split_regex(s, ' +'), x -> x <> ''))`.
  *  - bpe_token_count(s): number of matches of
  *    `([A-Za-z]+|[0-9]+|[^A-Za-z0-9 ])` — maximal letter runs, maximal
  *    digit runs, every other non-space byte individually.
  */
object TokenCounts {

  def wsTokens(s: UTF8String): Long = {
    val b = s.getBytes
    var n = 0L
    var inTok = false
    var i = 0
    while (i < b.length) {
      val sp = b(i) == ' '
      if (!sp && !inTok) n += 1
      inTok = !sp
      i += 1
    }
    n
  }

  def bpeTokens(s: UTF8String): Long = {
    val b = s.getBytes
    var n = 0L
    var prev = 0 // 0 = other, 1 = in letter run, 2 = in digit run
    var i = 0
    while (i < b.length) {
      val c = b(i)
      if ((c >= 'A' && c <= 'Z') || (c >= 'a' && c <= 'z')) {
        if (prev != 1) n += 1
        prev = 1
      } else if (c >= '0' && c <= '9') {
        if (prev != 2) n += 1
        prev = 2
      } else {
        if (c != ' ') n += 1
        prev = 0
      }
      i += 1
    }
    n
  }

  /** Stop-word hits: number of whitespace tokens that case-insensitively
    * equal one of the seven x_lang_id stop words — the same result as
    * `len(list_filter(string_split_regex(lower(s),' +'), x -> x IN
    * ('the','and','of','a','in','to','is')))` without materializing the
    * token array (ASCII case fold, same caveat as the other kernels). */
  private val StopWords: Array[Array[Byte]] =
    Array("the", "and", "of", "a", "in", "to", "is").map(_.getBytes)

  def stopTokens(s: UTF8String): Long = {
    val b = s.getBytes
    var n = 0L
    var i = 0
    while (i < b.length) {
      if (b(i) != ' ') {
        var j = i
        while (j < b.length && b(j) != ' ') j += 1
        val len = j - i
        var w = 0
        var hit = false
        while (!hit && w < StopWords.length) {
          val sw = StopWords(w)
          if (sw.length == len) {
            var k = 0
            var eq = true
            while (eq && k < len) {
              var c = b(i + k)
              if (c >= 'A' && c <= 'Z') c = (c + 32).toByte
              if (c != sw(k)) eq = false
              k += 1
            }
            hit = eq
          }
          w += 1
        }
        if (hit) n += 1
        i = j
      } else i += 1
    }
    n
  }
}

case class StopTokenCountExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"stop_token_count needs string, got ${other.catalogString}")
  }

  override protected def nullSafeEval(input: Any): Any =
    TokenCounts.stopTokens(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TokenCounts.stopTokens($c)")

  override protected def withNewChildInternal(newChild: Expression): StopTokenCountExpr =
    copy(child = newChild)

  override def prettyName: String = "stop_token_count"
}

case class WsTokenCountExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"ws_token_count needs string, got ${other.catalogString}")
  }

  override protected def nullSafeEval(input: Any): Any =
    TokenCounts.wsTokens(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TokenCounts.wsTokens($c)")

  override protected def withNewChildInternal(newChild: Expression): WsTokenCountExpr =
    copy(child = newChild)

  override def prettyName: String = "ws_token_count"
}

case class BpeTokenCountExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"bpe_token_count needs string, got ${other.catalogString}")
  }

  override protected def nullSafeEval(input: Any): Any =
    TokenCounts.bpeTokens(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TokenCounts.bpeTokens($c)")

  override protected def withNewChildInternal(newChild: Expression): BpeTokenCountExpr =
    copy(child = newChild)

  override def prettyName: String = "bpe_token_count"
}
