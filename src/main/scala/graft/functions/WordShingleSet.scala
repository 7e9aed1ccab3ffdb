package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.graft.Columns
import org.apache.spark.sql.graft.Columns.expression
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** [[WordShingles]] with per-document dedup folded into the expression:
  * the DISTINCT set of word-3-gram shingles, first-occurrence ordered.
  *
  * Why this exists: every shingle consumer keys on (doc id, gram), so gram
  * duplicates can only occur WITHIN one document — a global
  * `.distinct()` after the explode therefore shuffles the whole exploded
  * corpus only to perform a dedup that is local to each row. Folding the
  * dedup into the generating expression removes that shuffle entirely; at
  * 100 TB the explode output goes from "full corpus re-partitioned by
  * (id, 30-byte string)" to "no exchange at all". Values are identical to
  * `explode(word_shingles(text)).distinct()` per document, so DuckDB
  * oracle twins (`SELECT DISTINCT doc_id, g …`) are unaffected.
  */
case class WordShingleSet(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"word_shingle_set requires STRING input, got ${child.dataType.catalogString}")

  override def nullSafeEval(input: Any): Any =
    WordShingleSet.compute(input.asInstanceOf[UTF8String].toString)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.WordShingleSet.compute($c.toString())")

  override protected def withNewChildInternal(newChild: Expression): WordShingleSet =
    copy(child = newChild)

  override def prettyName: String = "word_shingle_set"
}

object WordShingleSet {

  def compute(s: String): ArrayData = {
    val toks = TextAnalysis.jvmTokens(s)
    val n = WordShingles.N
    if (toks.length < n) new GenericArrayData(Array.empty[Any])
    else {
      val seen = new java.util.LinkedHashSet[String](toks.length * 2)
      var i = 0
      while (i <= toks.length - n) {
        val sb = new java.lang.StringBuilder(toks(i))
        sb.append(' ').append(toks(i + 1)).append(' ').append(toks(i + 2))
        seen.add(sb.toString)
        i += 1
      }
      val out = new Array[Any](seen.size)
      val it = seen.iterator()
      var j = 0
      while (it.hasNext) {
        out(j) = UTF8String.fromString(it.next())
        j += 1
      }
      new GenericArrayData(out)
    }
  }

  def apply(c: Column): Column = Columns(WordShingleSet(expression(c)))
}
