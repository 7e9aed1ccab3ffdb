package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.graft.Columns
import org.apache.spark.sql.graft.Columns.expression
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Whole 16-function MinHash signature per document, in one codegen'd pass:
  * text → array<long>[16] where sig_k = min over word-3-gram shingles of
  * `(A_k · polyhash(gram) + B_k) mod P` (constants from [[TextAnalysis]]).
  * NULL when the document has fewer than 3 tokens (no shingles — such docs
  * are absent from the composed pipeline's signature relation too).
  *
  * Why this exists: the composed pipeline (explode shingles → distinct →
  * hash → groupBy(id) with 16 MIN aggregates) shuffles the entire exploded
  * corpus to compute a value that is a pure per-document function. At
  * 100 TB that exchange IS the cost of MinHash; this expression computes
  * the signature inside the scan stage — no explode, no exchange, and the
  * banding/bucket join that follows only carries (id, 16 longs) rows.
  * Gram duplicates cannot affect a MIN, so no dedup pass is needed.
  * Arithmetic is identical to the composed form (shared constants; the gram
  * hash streams the same code points [[PolyHash]] would see for the
  * space-joined gram string, without materializing it) — the parity spec
  * pins bitwise equality per signature slot.
  */
case class MinHashSig(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"minhash_sig requires STRING input, got ${child.dataType.catalogString}")

  override def nullSafeEval(input: Any): Any =
    MinHashSig.compute(input.asInstanceOf[UTF8String].toString)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"""
         |${ev.value} = graft.functions.MinHashSig.compute($c.toString());
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin)

  override protected def withNewChildInternal(newChild: Expression): MinHashSig =
    copy(child = newChild)

  override def prettyName: String = "minhash_sig"
}

object MinHashSig {
  val K = 16

  /** Null iff the text yields no shingles (< 3 tokens). */
  def compute(s: String): ArrayData = {
    val toks = TextAnalysis.jvmTokens(s)
    val n = WordShingles.N
    if (toks.length < n) return null
    val p = TextAnalysis.P
    val a = TextAnalysis.MinhashA
    val b = TextAnalysis.MinhashB
    val sig = Array.fill(K)(Long.MaxValue)
    var i = 0
    while (i <= toks.length - n) {
      // polyhash of "tok_i tok_i+1 tok_i+2" streamed without concatenation
      var acc = 0L
      var j = i
      while (j < i + n) {
        val t = toks(j)
        var ci = 0
        while (ci < t.length) {
          val cp = t.codePointAt(ci)
          acc = (acc * 31L + cp) % p
          ci += Character.charCount(cp)
        }
        if (j < i + n - 1) acc = (acc * 31L + ' '.toInt) % p
        j += 1
      }
      var k = 0
      while (k < K) {
        val v = (a(k) * acc + b(k)) % p
        if (v < sig(k)) sig(k) = v
        k += 1
      }
      i += 1
    }
    new GenericArrayData(sig.map(v => v: Any))
  }

  def apply(c: Column): Column = Columns(MinHashSig(expression(c)))
}
