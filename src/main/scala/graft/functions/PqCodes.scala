package graft.functions

import scala.collection.immutable.ArraySeq

import org.apache.spark.sql.Column
import org.apache.spark.sql.graft.Columns
import org.apache.spark.sql.graft.Columns.expression
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType}

/** Product-quantization encoder: split a dim = m·subDim vector into `m`
  * subvectors and map each to the index of its nearest (squared L2)
  * entry in that subspace's codebook — the PQ code word, `m` longs that
  * stand in for `dim` floats downstream (the IVF-ADC storage layout; at
  * 100 TB the difference between shipping 256 B and 8 B per vector into
  * an ANN index).
  *
  * Layout: `cbFlat` is indexed `(j·k + e)·subDim + i` for subspace j,
  * entry e, coordinate i. Per subspace the distance folds index-ordered
  * as `Σ_i (v_{j·subDim+i} − c_i)²` — the exact IEEE sequence the SQL
  * twin replays with `list_reduce(list_transform(...))` — and the
  * strict-improvement scan in ascending entry order picks the LOWEST
  * index among bitwise-equal minima (`ROW_NUMBER() OVER (ORDER BY dist,
  * e) = 1`). Codebooks ride as expression object state like
  * [[NearestCentroid]]/[[NearestResidual]]; the row loop is whole-stage
  * codegen'd. Malformed rows (dimension mismatch, null elements) yield
  * NULL, the family's contract.
  */
case class PqCodes(child: Expression, m: Int, k: Int,
                   cbFlat: IndexedSeq[Double]) extends UnaryExpression {

  require(m >= 1 && k >= 1, "pq_codes needs m >= 1 subspaces, k >= 1 entries")
  require(cbFlat.nonEmpty && cbFlat.length % (m * k) == 0,
    s"codebook length ${cbFlat.length} is not a multiple of m*k = ${m * k}")

  /** Per-subspace width implied by the codebook. */
  val subDim: Int = cbFlat.length / (m * k)
  /** Full vector dimension. */
  val dim: Int = m * subDim

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true

  private def elementsMayBeNull: Boolean = child.dataType match {
    case ArrayType(_, cn) => cn
    case _ => true
  }

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"pq_codes requires ARRAY<DOUBLE>, got ${other.catalogString}")
    }

  @transient private lazy val flat: Array[Double] = cbFlat.toArray

  /** Shared by interpreted eval and generated code; null on malformed. */
  def compute(v: ArrayData): ArrayData = {
    if (v.numElements() != dim) return null
    if (elementsMayBeNull) {
      var i = 0
      while (i < dim) {
        if (v.isNullAt(i)) return null
        i += 1
      }
    }
    val out = new Array[Any](m)
    var j = 0
    while (j < m) {
      var best = Double.PositiveInfinity
      var bestE = 0L
      var e = 0
      while (e < k) {
        var acc = 0.0
        val off = (j * k + e) * subDim
        var i = 0
        while (i < subDim) {
          val d = v.getDouble(j * subDim + i) - flat(off + i)
          acc += d * d
          i += 1
        }
        if (acc < best) { best = acc; bestE = e.toLong }
        e += 1
      }
      out(j) = bestE
      j += 1
    }
    new GenericArrayData(out)
  }

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("pqCodes", this, classOf[PqCodes].getName)
    nullSafeCodeGen(ctx, ev, v =>
      s"""
         |${ev.value} = $ref.compute($v);
         |if (${ev.value} == null) { ${ev.isNull} = true; }
       """.stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): PqCodes =
    copy(child = newChild)

  override def prettyName: String = "pq_codes"
}

object PqCodes {

  /** Column form; the codebook rides as expression object state. */
  def apply(vec: Column, m: Int, k: Int, cbFlat: Seq[Double]): Column =
    Columns(PqCodes(expression(vec), m, k, ArraySeq.from(cbFlat)))
}
