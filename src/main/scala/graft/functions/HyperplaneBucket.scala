package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.graft.Columns
import org.apache.spark.sql.graft.Columns.expression
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType}

/** 8-bit random-hyperplane LSH bucket of a double vector, in one codegen'd
  * pass: bit j is set iff Σ_i h_j(i)·v[i] > 0 with the deterministic
  * pseudo-hyperplane h_j(i) = ((A_j·i + B_j) mod P)/P − 0.5 (1-based i,
  * constants from [[TextAnalysis]]).
  *
  * Replaces the composed form (8 × `aggregate(transform(sequence(...)))`
  * folds per row — interpreted lambdas materializing an index array per
  * hyperplane), keeping the identical IEEE operation sequence: per j, an
  * index-ordered sum of products accumulated from 0.0, so buckets are
  * bitwise-equal to [[graft.operators.Similarity.hyperplaneBucket]] and to
  * the DuckDB oracle that re-derives them (parity spec pins this). The
  * bucket is the similarity family's partition key at scale — it runs once
  * per corpus row, so it must live inside the scan's codegen like
  * [[MinHashSig]] does for dedup.
  */
case class HyperplaneBucket(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"hyperplane_bucket requires ARRAY<DOUBLE> input, got ${t.catalogString}")
    }

  /** True when the schema admits null elements — compute() then checks
    * per row (a null element nulls every projection in the portable HOF
    * form, leaving every bit unset: bucket 0). */
  private def elementsMayBeNull: Boolean = child.dataType match {
    case ArrayType(_, cn) => cn
    case _ => true
  }

  override def nullSafeEval(input: Any): Any =
    HyperplaneBucket.compute(input.asInstanceOf[ArrayData], elementsMayBeNull)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.HyperplaneBucket.compute($c, $elementsMayBeNull)")

  override protected def withNewChildInternal(newChild: Expression): HyperplaneBucket =
    copy(child = newChild)

  override def prettyName: String = "hyperplane_bucket"
}

object HyperplaneBucket {
  val Bits = 8

  def compute(v: ArrayData, checkNulls: Boolean): Long = {
    val p = TextAnalysis.P
    val pd = p.toDouble
    val a = TextAnalysis.MinhashA
    val b = TextAnalysis.MinhashB
    val n = v.numElements()
    if (checkNulls) {
      var i = 0
      while (i < n) {
        // null element => every projection NULL in the composed form =>
        // no bit passes `> 0` => bucket 0
        if (v.isNullAt(i)) return 0L
        i += 1
      }
    }
    var bucket = 0L
    var j = 0
    while (j < Bits) {
      var acc = 0.0
      var i = 1 // 1-based index, matching the composed sequence(1, size) form
      while (i <= n) {
        val h = ((a(j) * i + b(j)) % p).toDouble / pd - 0.5
        acc += h * v.getDouble(i - 1)
        i += 1
      }
      if (acc > 0) bucket |= 1L << j
      j += 1
    }
    bucket
  }

  /** Driver-side twin over a plain array — the SAME index-ordered IEEE
    * arithmetic as [[compute]], for probe-time bucket derivation from a
    * literal query vector (a materialized-index probe must know the
    * query's bucket before any job runs, so the enumerated probe set can
    * prune partitions). */
  def computeJvm(v: Array[Double]): Long = {
    val p = TextAnalysis.P
    val pd = p.toDouble
    val a = TextAnalysis.MinhashA
    val b = TextAnalysis.MinhashB
    var bucket = 0L
    var j = 0
    while (j < Bits) {
      var acc = 0.0
      var i = 1
      while (i <= v.length) {
        val h = ((a(j) * i + b(j)) % p).toDouble / pd - 0.5
        acc += h * v(i - 1)
        i += 1
      }
      if (acc > 0) bucket |= 1L << j
      j += 1
    }
    bucket
  }

  def apply(c: Column): Column = Columns(HyperplaneBucket(expression(c)))
}
