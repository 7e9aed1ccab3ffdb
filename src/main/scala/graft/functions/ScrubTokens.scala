package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.graft.Columns
import org.apache.spark.sql.graft.Columns.expression
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Token-interval scrub: drop every (1-based) token position covered by
  * any `[starts(i), ends(i)]` interval and re-join the survivors with
  * single spaces. Output struct: (text, kept) — the scrubbed text and the
  * surviving token count. Intervals must be sorted by start and disjoint
  * (the gaps-and-islands merge guarantees both); a single merge-walk then
  * costs O(tokens + intervals) per document.
  *
  * Bitwise identical to the built-ins form — `concat_ws(' ',
  * transform(filter(sequence(1, n), i -> !exists(...)), i ->
  * element_at(w, i)))` — which runs three nested interpreted HOFs per
  * document ([[WindowHashes]]' scaladoc explains the fallback). This is
  * the rebuild half of the span-scrub tier (q75): per corpus token at
  * 100 TB, it must stay inside codegen.
  */
case class ScrubTokens(first: Expression, second: Expression,
                       third: Expression) extends TernaryExpression {

  override def dataType: DataType = StructType(Seq(
    StructField("text", StringType, nullable = false),
    StructField("kept", IntegerType, nullable = false)))

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (first.dataType != StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"scrub_tokens requires STRING text, got ${first.dataType.catalogString}")
    else if (!Seq(second, third).forall(e => e.dataType match {
      case ArrayType(IntegerType, _) => true
      case _                         => false
    }))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        "scrub_tokens requires ARRAY<INT> starts and ends")
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess

  override def nullSafeEval(text: Any, starts: Any, ends: Any): Any =
    ScrubTokens.compute(text.asInstanceOf[UTF8String].toString,
      starts.asInstanceOf[ArrayData], ends.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (t, s, e) =>
      s"graft.functions.ScrubTokens.compute($t.toString(), $s, $e)")

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): ScrubTokens =
    copy(first = f, second = s, third = t)

  override def prettyName: String = "scrub_tokens"
}

object ScrubTokens {

  def compute(s: String, starts: ArrayData, ends: ArrayData): InternalRow = {
    val toks = TextAnalysis.jvmTokens(s)
    val r = starts.numElements()
    val sb = new java.lang.StringBuilder(s.length)
    var kept = 0
    var iv = 0
    var i = 0
    while (i < toks.length) {
      val pos = i + 1
      while (iv < r && ends.getInt(iv) < pos) iv += 1
      val covered = iv < r && starts.getInt(iv) <= pos && pos <= ends.getInt(iv)
      if (!covered) {
        if (kept > 0) sb.append(' ')
        sb.append(toks(i))
        kept += 1
      }
      i += 1
    }
    InternalRow(UTF8String.fromString(sb.toString), kept)
  }

  def apply(text: Column, starts: Column, ends: Column): Column =
    Columns(ScrubTokens(expression(text), expression(starts), expression(ends)))
}
