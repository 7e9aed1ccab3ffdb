package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.graft.Columns
import org.apache.spark.sql.graft.Columns.expression
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Per-language stopword hit counts for the language-ID heuristic, in ONE
  * tokenize pass: text → struct(s_de, s_en, s_es, s_fr, s_zh). Field k is
  * identical to `StopHits(text, Stopwords(k))`, but the composed form
  * tokenizes the document once per language — this expression walks the
  * tokens once and probes all five sets. Language set and order come from
  * [[TextAnalysis.Stopwords]], the same constants that generate the DuckDB
  * oracle SQL, so the twins cannot drift.
  */
case class LangScores(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LangScores.schema
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"lang_scores requires STRING input, got ${child.dataType.catalogString}")

  override def nullSafeEval(input: Any): Any =
    LangScores.compute(input.asInstanceOf[UTF8String].toString)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.LangScores.compute($c.toString())")

  override protected def withNewChildInternal(newChild: Expression): LangScores =
    copy(child = newChild)

  override def prettyName: String = "lang_scores"
}

object LangScores {
  val langs: Seq[String] = TextAnalysis.Stopwords.map(_._1)

  val schema: StructType = StructType(
    langs.map(l => StructField(s"s_$l", LongType, nullable = false)))

  private val sets: Array[java.util.HashSet[String]] =
    TextAnalysis.Stopwords.map { case (_, words) =>
      val s = new java.util.HashSet[String]()
      words.foreach(s.add)
      s
    }.toArray

  def compute(s: String): InternalRow = {
    val toks = TextAnalysis.jvmTokens(s)
    val counts = new Array[Long](sets.length)
    var i = 0
    while (i < toks.length) {
      val t = toks(i)
      var k = 0
      while (k < sets.length) {
        if (sets(k).contains(t)) counts(k) += 1
        k += 1
      }
      i += 1
    }
    new GenericInternalRow(counts.map(c => c: Any))
  }

  def apply(c: Column): Column = Columns(LangScores(expression(c)))
}
