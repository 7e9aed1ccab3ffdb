package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.graft.Columns
import org.apache.spark.sql.graft.Columns.expression
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native codegen'd one-pass repetition statistics per document — the
  * counting core of a Gopher-style repetition quality filter: how dominant
  * is the most frequent word bigram, and what fraction of word trigrams are
  * repeats. One tokenize pass per row, all work row-local (zero shuffle at
  * any corpus size); semantically identical to explode→groupBy formulations
  * (the DuckDB oracle twin in `graft.queries.TextQ.q59`), which would
  * shuffle the whole exploded corpus twice to compute per-row numbers.
  */
case class RepetitionStats(child: Expression) extends UnaryExpression {

  override def dataType: DataType = RepetitionStats.schema
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"repetition_stats requires STRING input, got ${child.dataType.catalogString}")

  override def nullSafeEval(input: Any): Any =
    RepetitionStats.compute(input.asInstanceOf[UTF8String].toString)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.RepetitionStats.compute($c.toString())")

  override protected def withNewChildInternal(newChild: Expression): RepetitionStats =
    copy(child = newChild)

  override def prettyName: String = "repetition_stats"
}

object RepetitionStats {
  val schema: StructType = StructType(Seq(
    StructField("n_bigrams", LongType, nullable = false),
    StructField("top_bigram_n", LongType, nullable = false),
    StructField("n_trigrams", LongType, nullable = false),
    StructField("n_distinct_trigrams", LongType, nullable = false)))

  def compute(s: String): InternalRow = {
    val toks = TextAnalysis.jvmTokens(s)
    val nBi = math.max(toks.length - 1, 0)
    val nTri = math.max(toks.length - 2, 0)
    val biCounts = new java.util.HashMap[String, java.lang.Long]()
    var top = 0L
    var i = 0
    while (i < nBi) {
      val c: Long = biCounts.merge(toks(i) + " " + toks(i + 1),
        java.lang.Long.valueOf(1L), (a, b) => java.lang.Long.valueOf(a + b))
      if (c > top) top = c
      i += 1
    }
    val tris = new java.util.HashSet[String]()
    i = 0
    while (i < nTri) {
      tris.add(toks(i) + " " + toks(i + 1) + " " + toks(i + 2))
      i += 1
    }
    new GenericInternalRow(Array[Any](nBi.toLong, top, nTri.toLong,
      tris.size.toLong))
  }

  def apply(c: Column): Column = Columns(RepetitionStats(expression(c)))

  /** The Gopher-style repetition predicate over the four counters — ONE
    * definition shared by q59 and the curation pipeline so the
    * oracle-pinned thresholds cannot drift between them. Exact integer
    * arithmetic: flagged iff the top bigram holds ≥ `topBigramMilli`/1000
    * of all bigrams, or duplicate trigrams are ≥ `dupTrigramMilli`/1000
    * of all trigrams. */
  def repetitiveFlag(nBigrams: Column, topBigramN: Column, nTrigrams: Column,
                     nDistinctTrigrams: Column, topBigramMilli: Int = 100,
                     dupTrigramMilli: Int = 20): Column =
    (nBigrams > 0 && topBigramN * 1000 >= nBigrams * topBigramMilli) ||
      (nTrigrams > 0 &&
        (nTrigrams - nDistinctTrigrams) * 1000 >= nTrigrams * dupTrigramMilli)
}
