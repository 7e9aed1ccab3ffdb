package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.graft.Columns
import org.apache.spark.sql.graft.Columns.expression
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Per-bigram (context-unigram hash, bigram hash) pairs in one codegen'd
  * pass — element k (0-based) is `(polyhash(token k), polyhash(token k ||
  * ' ' || token k+1))`, exactly the two join keys the LM-quality scorer
  * (q77) probes per bigram occurrence. Bitwise identical to zipping
  * [[WindowHashes]] L=1 with L=2 positionally (spec-pinned) — but that
  * formulation tokenizes the document TWICE and pays a second
  * hash-every-token loop; fused, the corpus scan tokenizes once and the
  * bigram hash extends the unigram accumulator instead of rehashing token
  * k from scratch. Per corpus token at 100 TB this is the hot loop of
  * model scoring — it must stay one pass inside codegen.
  *
  * Fewer than two tokens → empty array (nothing to score).
  */
case class BigramPairs(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("h1", LongType, nullable = false),
      StructField("h12", LongType, nullable = false))), containsNull = false)
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"bigram_pairs requires STRING input, got ${child.dataType.catalogString}")

  override def nullSafeEval(input: Any): Any =
    BigramPairs.compute(input.asInstanceOf[UTF8String].toString)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.BigramPairs.compute($c.toString())")

  override protected def withNewChildInternal(newChild: Expression): BigramPairs =
    copy(child = newChild)

  override def prettyName: String = "bigram_pairs"
}

object BigramPairs {

  /** One tokenize, one hash loop: the unigram hash of token k is computed
    * once and reused as the prefix state of window k's bigram hash (the
    * polynomial over `tok(k) + ' ' + tok(k+1)` factors through the
    * polynomial over `tok(k)`). Code points, not chars — supplementary
    * pairs fold like [[PolyHash.hash]] / DuckDB `unicode()`. */
  def compute(s: String): ArrayData = {
    val toks = TextAnalysis.jvmTokens(s)
    if (toks.length < 2) return new GenericArrayData(Array.empty[Any])
    val p = TextAnalysis.P
    def hashToken(t: String, init: Long): Long = {
      var acc = init
      var c = 0
      while (c < t.length) {
        val cp = t.codePointAt(c)
        acc = (acc * 31 + cp) % p
        c += Character.charCount(cp)
      }
      acc
    }
    // unigram hashes once per token (not once per window)
    val uh = new Array[Long](toks.length)
    var i = 0
    while (i < toks.length) { uh(i) = hashToken(toks(i), 0L); i += 1 }
    val out = new Array[Any](toks.length - 1)
    var k = 0
    while (k < toks.length - 1) {
      val h12 = hashToken(toks(k + 1), (uh(k) * 31 + ' '.toInt) % p)
      out(k) = InternalRow(uh(k), h12)
      k += 1
    }
    new GenericArrayData(out)
  }

  def apply(c: Column): Column = Columns(BigramPairs(expression(c)))
}
