package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{Tables, TestSpark}
import graft.operators.Similarity

/** [[NearestCentroid]]: the in-scan argmax expression must agree bitwise
  * with the join+window formulation it replaces, across both eval paths. */
class NearestCentroidSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def baseAndCents = {
    val base = Similarity.withNorm(
      Tables.embeddings(spark, "/root/testdata/sf0.001"), "embedding")
    val cents = base.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("cent_id"), col("vecd").as("cent_vec"),
        col("norm").as("cent_norm"))
    (base, cents)
  }

  test("expression path equals the join+window path on every row") {
    val (base, cents) = baseAndCents
    val fast = Similarity.assignCells(base, "vec_id", cents)
      .select("vec_id", "cell").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val windowed = Similarity.assignCells(base, "vec_id", cents, maxDriver = 0)
      .select("vec_id", "cell").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fast.nonEmpty && fast == windowed)
  }

  test("interpreted eval equals codegen eval") {
    val (base, cents) = baseAndCents
    val head = cents.orderBy("cent_id").collect()
    val ids = head.map(_.getLong(0)).toIndexedSeq
    val flat = head.flatMap(_.getSeq[Double](1)).toIndexedSeq
    val norms = head.map(_.getDouble(2)).toIndexedSeq
    val assigned = base.select(col("vec_id"),
      NearestCentroid(col("vecd"), col("norm"), ids, flat, norms).as("cell"))
    val viaCodegen = assigned.collect().map(r => r.getLong(0) -> r.getLong(1))
    // force the interpreted path through direct expression eval
    val dim = flat.length / ids.length
    val rows = base.select("vec_id", "vecd", "norm").collect()
    val expr = NearestCentroid(
      org.apache.spark.sql.catalyst.expressions.BoundReference(0,
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.DoubleType, containsNull = false),
        nullable = false),
      org.apache.spark.sql.catalyst.expressions.BoundReference(1,
        org.apache.spark.sql.types.DoubleType, nullable = false),
      ids, flat, norms)
    val interpreted = rows.map { r =>
      val v = org.apache.spark.sql.catalyst.util.ArrayData
        .toArrayData(r.getSeq[Double](1).toArray)
      r.getLong(0) -> expr.nullSafeEval(v, r.getDouble(2)).asInstanceOf[Long]
    }
    assert(viaCodegen.toMap == interpreted.toMap)
    assert(dim == 64)
  }

  test("dimension mismatch and bad constructor args fail predictably") {
    val ids = IndexedSeq(1L, 2L)
    val flat = IndexedSeq(1.0, 0.0, 0.0, 1.0) // dim 2
    val norms = IndexedSeq(1.0, 1.0)
    import spark.implicits._
    val df = Seq((1L, Array(1.0, 0.0)), (2L, Array(0.3, 0.9, 0.5)))
      .toDF("id", "v")
      .select(col("id"), NearestCentroid(col("v"), lit(1.0), ids, flat, norms).as("cell"))
    val out = df.collect().map(r =>
      r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    assert(out(1L).contains(1L))   // parallel to centroid 1
    assert(out(2L).isEmpty)        // 3-dim vector vs 2-dim quantizer: NULL
    val nullExpr: org.apache.spark.sql.catalyst.expressions.Expression = null
    intercept[IllegalArgumentException] {
      NearestCentroid(nullExpr, nullExpr,
        IndexedSeq.empty, IndexedSeq.empty, IndexedSeq.empty)
    }
    intercept[IllegalArgumentException] {
      NearestCentroid(nullExpr, nullExpr,
        IndexedSeq(1L, 2L), IndexedSeq(1.0, 2.0, 3.0), IndexedSeq(1.0, 1.0))
    }
  }

  test("assignCells paths agree on malformed vectors: NULL cell, row kept") {
    import spark.implicits._
    val good = Seq((1L, Seq(1.0, 0.0)), (2L, Seq(0.0, 1.0))).toDF("id", "vecd")
    val wrongDim = Seq((3L, Seq(1.0, 0.0, 0.0))).toDF("id", "vecd")
    val nullElem = spark.range(1).select(lit(4L).as("id"),
      array(lit(1.0), lit(null).cast("double")).as("vecd"))
    val base = good.union(wrongDim).union(nullElem)
      .withColumn("norm", lit(1.0))
    val cents = Seq((10L, Seq(1.0, 0.0), 1.0), (20L, Seq(0.0, 1.0), 1.0))
      .toDF("cent_id", "cent_vec", "cent_norm")
    def assign(maxDriver: Int): Map[Long, Option[Long]] =
      Similarity.assignCells(base, "id", cents, maxDriver)
        .select("id", "cell").collect()
        .map(r => r.getLong(0) ->
          (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    val fast = assign(Similarity.MaxDriverCentroids)
    val windowed = assign(0)
    assert(fast == windowed)
    assert(fast(1L).contains(10L) && fast(2L).contains(20L))
    // malformed rows survive with NULL cell on BOTH paths — the windowed
    // path must not rank an all-NULL cosine group by cent_id alone
    assert(fast(3L).isEmpty && fast(4L).isEmpty)
  }

  test("strict-improvement scan keeps the lowest cent_id among exact ties") {
    import spark.implicits._
    // centroids 5 and 9 are identical: every vector ties — 5 must win
    val ids = IndexedSeq(5L, 9L)
    val flat = IndexedSeq(1.0, 1.0, 1.0, 1.0)
    val norms = IndexedSeq(math.sqrt(2.0), math.sqrt(2.0))
    val out = Seq((1L, Array(0.5, 0.25)), (2L, Array(-1.0, 3.0)))
      .toDF("id", "v")
      .select(col("id"),
        NearestCentroid(col("v"), sqrt(lit(1.0)) * lit(1.0), ids, flat, norms).as("cell"))
      .collect().map(_.getLong(1)).toSet
    assert(out == Set(5L))
  }
}
