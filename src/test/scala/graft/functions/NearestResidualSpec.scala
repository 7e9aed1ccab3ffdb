package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{Tables, TestSpark}
import graft.operators.Similarity

/** [[NearestResidual]]: the level-2 in-scan assignment must agree bitwise
  * with a driver-side brute-force twin replaying the same index-ordered
  * fold, across both eval paths, with [[NearestCentroid]]'s malformed-row
  * contract. */
class NearestResidualSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** Codebooks built exactly like [[Similarity.buildCodebooks]] but
    * driver-side, over the real embeddings fixture. */
  private lazy val fixture = {
    val base = Similarity.withNorm(
      Tables.embeddings(spark, "/root/testdata/sf0.001"), "embedding")
    val rows = base.select("vec_id", "vecd", "norm")
      .orderBy("vec_id").collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray, r.getDouble(2)))
    val c1 = rows.filter(_._1 % 7 == 0)
    val ids1 = c1.map(_._1).toIndexedSeq
    val flat1 = c1.flatMap(_._2).toIndexedSeq
    val norms1 = c1.map(_._3).toIndexedSeq
    val dim = rows.head._2.length
    // level-1 assignment of every row, replayed driver-side (cosine argmax,
    // strict improvement = lowest id among ties)
    def cell1Of(v: Array[Double], n: Double): Long = {
      var best = Double.NegativeInfinity; var bestId = ids1(0)
      ids1.indices.foreach { c =>
        var acc = 0.0; var i = 0
        while (i < dim) { acc += v(i) * flat1(c * dim + i); i += 1 }
        val cos = acc / (n * norms1(c))
        if (cos > best) { best = cos; bestId = ids1(c) }
      }
      bestId
    }
    val c2 = rows.filter(_._1 % 5 == 0)
    val ids2 = c2.map(_._1).toIndexedSeq
    val flat2 = c2.flatMap { case (_, v, n) =>
      val off = ids1.indexOf(cell1Of(v, n)) * dim
      (0 until dim).map(i => v(i) - flat1(off + i))
    }.toIndexedSeq
    (base, rows, ids1, flat1, norms1, ids2, flat2, dim, cell1Of _)
  }

  test("codegen eval equals a driver-side brute-force twin on every row") {
    val (base, rows, ids1, flat1, norms1, ids2, flat2, dim, cell1Of) = fixture
    val viaCodegen = base
      .withColumn("cell1",
        NearestCentroid(col("vecd"), col("norm"), ids1, flat1, norms1))
      .select(col("vec_id"),
        NearestResidual(col("vecd"), col("cell1"),
          ids1, flat1, ids2, flat2).as("cell2"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val brute = rows.map { case (id, v, n) =>
      val off1 = ids1.indexOf(cell1Of(v, n)) * dim
      var best = Double.PositiveInfinity; var bestId = ids2(0)
      ids2.indices.foreach { c =>
        var acc = 0.0; var i = 0
        while (i < dim) {
          val d = (v(i) - flat1(off1 + i)) - flat2(c * dim + i)
          acc += d * d; i += 1
        }
        if (acc < best) { best = acc; bestId = ids2(c) }
      }
      id -> bestId
    }.toMap
    assert(viaCodegen.nonEmpty && viaCodegen == brute)
  }

  test("interpreted eval equals codegen eval") {
    val (base, rows, ids1, flat1, norms1, ids2, flat2, _, cell1Of) = fixture
    val viaCodegen = base
      .withColumn("cell1",
        NearestCentroid(col("vecd"), col("norm"), ids1, flat1, norms1))
      .select(col("vec_id"),
        NearestResidual(col("vecd"), col("cell1"),
          ids1, flat1, ids2, flat2).as("cell2"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expr = NearestResidual(
      org.apache.spark.sql.catalyst.expressions.BoundReference(0,
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.DoubleType, containsNull = false),
        nullable = false),
      org.apache.spark.sql.catalyst.expressions.BoundReference(1,
        org.apache.spark.sql.types.LongType, nullable = false),
      ids1, flat1, ids2, flat2)
    val interpreted = rows.map { case (id, v, n) =>
      val arr = org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(v)
      id -> expr.nullSafeEval(arr, cell1Of(v, n)).asInstanceOf[Long]
    }.toMap
    assert(viaCodegen == interpreted)
  }

  test("malformed rows get NULL: wrong dimension, null element, unknown cell1") {
    import spark.implicits._
    val ids1 = IndexedSeq(10L, 20L)
    val flat1 = IndexedSeq(1.0, 0.0, 0.0, 1.0) // dim 2
    val ids2 = IndexedSeq(3L, 4L)
    val flat2 = IndexedSeq(0.1, 0.0, 0.0, 0.1)
    val good = Seq((1L, Seq(1.0, 0.1), 10L), (2L, Seq(0.0, 1.0), 20L))
      .toDF("id", "v", "c1")
    val wrongDim = Seq((3L, Seq(1.0, 0.0, 0.0), 10L)).toDF("id", "v", "c1")
    val unknownCell = Seq((5L, Seq(1.0, 0.0), 99L)).toDF("id", "v", "c1")
    val nullElem = spark.range(1).select(lit(4L).as("id"),
      array(lit(1.0), lit(null).cast("double")).as("v"), lit(10L).as("c1"))
    val out = good.union(wrongDim).union(unknownCell).union(nullElem)
      .select(col("id"),
        NearestResidual(col("v"), col("c1"), ids1, flat1, ids2, flat2).as("cell2"))
      .collect().map(r =>
        r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    assert(out(1L).contains(4L)) // residual (0, 0.1) IS codebook entry 4
    assert(out(2L).nonEmpty)
    assert(out(3L).isEmpty) // 3-dim vector vs 2-dim codebooks
    assert(out(4L).isEmpty) // null element
    assert(out(5L).isEmpty) // cell1 not a known level-1 id
  }

  test("strict-improvement scan keeps the lowest cent2_id among exact ties") {
    import spark.implicits._
    val ids1 = IndexedSeq(0L)
    val flat1 = IndexedSeq(0.0, 0.0)
    // codebook entries 7 and 9 identical: every residual ties — 7 wins
    val ids2 = IndexedSeq(7L, 9L)
    val flat2 = IndexedSeq(0.5, 0.5, 0.5, 0.5)
    val out = Seq((1L, Seq(0.25, 0.75)), (2L, Seq(-1.0, 2.0)))
      .toDF("id", "v")
      .select(col("id"),
        NearestResidual(col("v"), lit(0L) + lit(0L), ids1, flat1, ids2, flat2)
          .as("cell2"))
      .collect().map(_.getLong(1)).toSet
    assert(out == Set(7L))
  }

  test("inconsistent codebooks and unsorted level-1 ids fail predictably") {
    val nullExpr: org.apache.spark.sql.catalyst.expressions.Expression = null
    intercept[IllegalArgumentException] {
      NearestResidual(nullExpr, nullExpr,
        IndexedSeq.empty, IndexedSeq.empty, IndexedSeq(1L), IndexedSeq(1.0))
    }
    intercept[IllegalArgumentException] {
      // dim implied by level-1 (2) differs from level-2 (1)
      NearestResidual(nullExpr, nullExpr,
        IndexedSeq(1L), IndexedSeq(1.0, 2.0), IndexedSeq(2L), IndexedSeq(1.0))
    }
    intercept[IllegalArgumentException] {
      // Long.MinValue is the null sentinel — reserved
      NearestResidual(nullExpr, nullExpr,
        IndexedSeq(1L), IndexedSeq(1.0), IndexedSeq(Long.MinValue), IndexedSeq(1.0))
    }
    // the registry builder enforces sorted level-1 ids (binary-searched)
    import spark.implicits._
    val err = intercept[Exception] {
      Seq((1L, Seq(1.0), 2L)).toDF("id", "v", "c1")
        .select(NearestResidual(col("v"), col("c1"),
          Seq(2L, 1L), Seq(1.0, 2.0), Seq(3L), Seq(0.0)))
        .collect()
    }
    assert(err.getMessage.contains("sorted"))
  }
}
