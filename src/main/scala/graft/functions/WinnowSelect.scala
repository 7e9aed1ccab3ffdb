package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.graft.Columns
import org.apache.spark.sql.graft.Columns.expression
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The ENTIRE winnowing selection (Schleimer/Wilkerson/Aiken 2003) as one
  * in-scan codegen'd pass: token k-gram hashes, the w-wide sliding-window
  * MIN with ties to the RIGHTMOST minimal hash, the full-window /
  * short-document rule, and the distinct-selection fold — everything
  * [[graft.operators.Winnow.fingerprints]] formerly assembled from an
  * explode + a per-document window (one exchange carrying every gram
  * coordinate + a per-document sort + a distinct exchange). Element
  * order is ascending `pos` (selected positions are non-decreasing
  * across windows — a window's minimum never moves left).
  *
  * Exactness: gram hashes are [[WideWindowHashes.compute]] (62-bit,
  * `wide = true` — bitwise the `wideStrHash` of the space-joined gram,
  * spec-pinned) or [[WindowHashes.compute]] (31-bit); the tie rule is
  * the packed `(h, 2²⁴−1−p)` minimum — smallest hash, then rightmost
  * position — exactly the struct/packed MIN the window formulation
  * aggregated. Documents with more than [[MaxGramsPerDoc]] grams fail
  * loud (the pack-arithmetic ceiling); fewer than k tokens → empty.
  *
  * Scale: the selection (~2/(w+1) of grams) is the ONLY thing that
  * leaves the scan — gram coordinates never cross an exchange at all.
  */
case class WinnowSelect(child: Expression, k: Int, w: Int,
                        wide: Boolean) extends UnaryExpression {

  override def dataType: DataType = WinnowSelect.OutType

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType != StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"winnow_select requires STRING text, got ${child.dataType.catalogString}")
    else if (k < 1 || w < 1)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"winnow_select requires k >= 1 and w >= 1, got k=$k w=$w")
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess

  override def nullSafeEval(text: Any): Any =
    WinnowSelect.compute(text.asInstanceOf[UTF8String].toString, k, w, wide)

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, t =>
      s"graft.functions.WinnowSelect.compute($t.toString(), $k, $w, $wide)")

  override protected def withNewChildInternal(
      newChild: Expression): WinnowSelect = copy(child = newChild)

  override def prettyName: String = "winnow_select"
}

object WinnowSelect {

  val OutType: DataType = ArrayType(StructType(Seq(
    StructField("pos", LongType, nullable = false),
    StructField("fp", LongType, nullable = false))), containsNull = false)

  /** Per-document gram ceiling — [[graft.operators.Winnow.MaxGramsPerDoc]]
    * (the operators constant aliases this one; functions cannot depend on
    * operators). */
  val MaxGramsPerDoc: Int = (1 << 24) - 1

  /** One pass: per-window gram hashes via the exact [[WideWindowHashes]]
    * / [[WindowHashes]] arithmetic, then a monotonic-deque sliding
    * minimum under the (hash ASC, position DESC) total order — O(m)
    * after hashing, every index pushed and popped once. */
  def compute(s: String, k: Int, w: Int, wide: Boolean): ArrayData = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(w >= 1, s"w must be >= 1, got $w")
    val hsData =
      if (wide) WideWindowHashes.compute(s, k)
      else WindowHashes.compute(s, k)
    val m = hsData.numElements()
    if (m == 0) return new GenericArrayData(Array.empty[Any])
    if (m - 1 > MaxGramsPerDoc) {
      // identify the document: the expression only sees the text
      // column, so carry a prefix + length into the message — at crawl
      // scale the operator's caller must not need a second scan to
      // find the offender
      val prefix = if (s.length > 80) s.substring(0, 80) + "…" else s
      throw new IllegalStateException(
        s"winnow: document with $m grams (${s.length} chars, text " +
          s"prefix '$prefix') exceeds $MaxGramsPerDoc grams — the " +
          "pack arithmetic would collide; split the document upstream")
    }
    val hs = new Array[Long](m)
    var i = 0
    while (i < m) { hs(i) = hsData.getLong(i); i += 1 }
    val out = scala.collection.mutable.ArrayBuffer.empty[Any]
    if (m < w) {
      // short document: the single whole-document window's minimum
      // (smallest hash, ties to the rightmost position)
      var best = 0
      var j = 1
      while (j < m) { if (hs(j) <= hs(best)) best = j; j += 1 }
      out += InternalRow(best.toLong, hs(best))
    } else {
      // full windows [q, q+w-1]: monotonic deque of candidate indices,
      // strictly increasing (h, rightmost-wins) order front to back
      val dq = new Array[Int](m)
      var lo = 0
      var hi = 0 // exclusive
      var last = -1
      var e = 0
      while (e < m) {
        // rightmost wins ties: a newer index with an equal hash evicts
        while (hi > lo && hs(e) <= hs(dq(hi - 1))) hi -= 1
        dq(hi) = e
        hi += 1
        val q = e - w + 1
        if (q >= 0) {
          if (dq(lo) < q) lo += 1
          val sel = dq(lo)
          if (sel != last) {
            out += InternalRow(sel.toLong, hs(sel))
            last = sel
          }
        }
        e += 1
      }
    }
    new GenericArrayData(out.toArray)
  }

  def apply(text: Column, k: Int, w: Int, wide: Boolean): Column =
    Columns(WinnowSelect(expression(text), k, w, wide))
}
