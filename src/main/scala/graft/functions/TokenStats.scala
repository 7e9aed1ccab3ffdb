package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.graft.Columns
import org.apache.spark.sql.graft.Columns.expression
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native codegen'd one-pass token statistics: (n_tokens, sum_tok_len,
  * short_tokens) per document in a single tokenize loop — semantically
  * identical to size/aggregate/filter over `split(trim(s), "\s+")` (the
  * formulation the DuckDB oracles replicate), but without four separate
  * interpreted higher-order-function evaluations per row.
  */
case class TokenStats(child: Expression) extends UnaryExpression {

  override def dataType: DataType = TokenStats.schema
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"token_stats requires STRING input, got ${child.dataType.catalogString}")

  override def nullSafeEval(input: Any): Any =
    TokenStats.compute(input.asInstanceOf[UTF8String].toString)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TokenStats.compute($c.toString())")

  override protected def withNewChildInternal(newChild: Expression): TokenStats =
    copy(child = newChild)

  override def prettyName: String = "token_stats"
}

object TokenStats {
  val schema: StructType = StructType(Seq(
    StructField("n_tokens", LongType, nullable = false),
    StructField("sum_tok_len", LongType, nullable = false),
    StructField("short_tokens", LongType, nullable = false)))

  def compute(s: String): InternalRow = {
    val toks = TextAnalysis.jvmTokens(s)
    var sum = 0L
    var short = 0L
    var i = 0
    while (i < toks.length) {
      val t = toks(i)
      val chars = t.codePointCount(0, t.length) // Spark length() = code points
      sum += chars
      if (chars <= 2) short += 1
      i += 1
    }
    new GenericInternalRow(Array[Any](toks.length.toLong, sum, short))
  }

  def apply(c: Column): Column = Columns(TokenStats(expression(c)))
}

/** Native codegen'd stopword-hit counter: tokens of `child` present in the
  * fixed `words` set — identical to `size(filter(tokens, w -> w IN set))`. */
case class StopHits(child: Expression, words: Seq[String])
  extends UnaryExpression {

  @transient private lazy val set: java.util.HashSet[String] = {
    val s = new java.util.HashSet[String]()
    words.foreach(s.add)
    s
  }

  override def dataType: DataType = LongType
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"stop_hits requires STRING input, got ${child.dataType.catalogString}")

  override def nullSafeEval(input: Any): Any =
    StopHits.compute(input.asInstanceOf[UTF8String].toString, set)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val setRef = ctx.addReferenceObj("stopWords", set, "java.util.HashSet")
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.StopHits.compute($c.toString(), $setRef)")
  }

  override protected def withNewChildInternal(newChild: Expression): StopHits =
    copy(child = newChild)

  override def prettyName: String = "stop_hits"
}

object StopHits {
  def compute(s: String, set: java.util.HashSet[String]): Long = {
    val toks = TextAnalysis.jvmTokens(s)
    var n = 0L
    var i = 0
    while (i < toks.length) {
      if (set.contains(toks(i))) n += 1
      i += 1
    }
    n
  }

  def apply(c: Column, words: Seq[String]): Column =
    Columns(StopHits(expression(c), words))
}
