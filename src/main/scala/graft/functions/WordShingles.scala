package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.graft.Columns
import org.apache.spark.sql.graft.Columns.expression
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native codegen'd word-3-gram shingle expression: one pass producing the
  * gram array, replacing the interpreted HOF pipeline
  * `transform(sequence(...), i -> concat_ws(' ', t[i], t[i+1], t[i+2]))`
  * (higher-order functions never enter whole-stage codegen). Output strings
  * are byte-identical to the built-ins form — `split(trim(s), "\s+")` then
  * space-joined windows — so the DuckDB oracles are unaffected.
  */
case class WordShingles(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"word_shingles requires STRING input, got ${child.dataType.catalogString}")

  override def nullSafeEval(input: Any): Any =
    WordShingles.compute(input.asInstanceOf[UTF8String].toString)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.WordShingles.compute($c.toString())")

  override protected def withNewChildInternal(newChild: Expression): WordShingles =
    copy(child = newChild)

  override def prettyName: String = "word_shingles"
}

object WordShingles {
  val N = 3

  def compute(s: String): ArrayData = {
    val toks = TextAnalysis.jvmTokens(s)
    if (toks.length < N) new GenericArrayData(Array.empty[Any])
    else {
      val out = new Array[Any](toks.length - N + 1)
      var i = 0
      while (i <= toks.length - N) {
        val sb = new java.lang.StringBuilder(toks(i))
        sb.append(' ').append(toks(i + 1)).append(' ').append(toks(i + 2))
        out(i) = UTF8String.fromString(sb.toString)
        i += 1
      }
      new GenericArrayData(out)
    }
  }

  def apply(c: Column): Column = Columns(WordShingles(expression(c)))
}
