package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{Tables, TestSpark}
import graft.operators.Similarity

/** The 64-plane SRP signature ([[HyperplaneSig]]) and its banded-pairs
  * consumer: the plane-window arithmetic against composed portable
  * forms, the window policy (degenerate low planes excluded), the
  * pigeonhole candidate-exactness contract, and malformed-row
  * semantics. */
class HyperplaneSigSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def base = Similarity.withNorm(
    Tables.embeddings(spark, "/root/testdata/sf0.001"), "embedding")

  // portable plane-j dot: the index-ordered fold of plane(i) * v(i)
  private def planeDot(j: Int) = aggregate(
    sequence(lit(1), size(col("vecd"))).cast("array<int>"),
    lit(0.0),
    (acc, i) => acc +
      (((lit(TextAnalysis.HplaneA(j)) * i.cast("long") + lit(TextAnalysis.HplaneB(j)))
        % TextAnalysis.P).cast("double") / TextAnalysis.P.toDouble - 0.5) *
        element_at(col("vecd"), i))

  test("windows skip the degenerate hand-picked planes and are disjoint") {
    // the signature tiers must never touch planes 0-31 (near-constant
    // ramps, ~220x candidate inflation — TextAnalysis.HplaneA scaladoc)
    assert(HyperplaneSig.LoOffset >= 32)
    assert(HyperplaneSig.HiOffset >= HyperplaneSig.LoOffset + HyperplaneSig.Bits)
    assert(HyperplaneSig.HiOffset + HyperplaneSig.Bits <= TextAnalysis.HplaneA.length)
  }

  test("matches the composed 64-fold portable form on a corpus sample") {
    // 64 interpreted HOF folds are slow — a 40-row sample is plenty to
    // pin the arithmetic (every plane constant participates in each row)
    val sample = base.limit(40)
    val portableSig = (0 until 64).map(j =>
      when(planeDot(HyperplaneSig.LoOffset + j) > 0, lit(1L << j))
        .otherwise(lit(0L))).reduce(_ + _)
    val diff = sample.select(HyperplaneSig(col("vecd")).as("a"),
      portableSig.as("b")).filter(col("a") =!= col("b"))
    assert(diff.count() == 0)
  }

  test("hi window == the HiOffset planes of the same composed form") {
    val sample = base.limit(12)
    val portableHi = (0 until 64).map(j =>
      when(planeDot(HyperplaneSig.HiOffset + j) > 0, lit(1L << j))
        .otherwise(lit(0L))).reduce(_ + _)
    val diff = sample.select(HyperplaneSig.hi(col("vecd")).as("a"),
      portableHi.as("b")).filter(col("a") =!= col("b"))
    assert(diff.count() == 0)
  }

  test("banded pairs: candidates are EXACT within signature-Hamming 3") {
    // Hamming ≤ 3 out of 64 planes is a tight angular radius the random
    // fixture alone may not populate, so plant near-duplicates: positive
    // scaling preserves every projection's sign (hamming 0, cosine 1).
    val minCos = 0.3
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select("vec_id", "embedding")
    val planted = emb.filter(col("vec_id") % 17 === 0)
      .select((col("vec_id") + 1000000L).as("vec_id"),
        transform(col("embedding"), x => x * 1.001f).as("embedding"))
    val corpus = emb.unionAll(planted)
    // recompute signatures, enumerate every pair with Hamming <= 3 and
    // cosine >= threshold: ALL of them must be in the operator's output
    // (pigeonhole: 3 flipped bits cannot touch all 4 of the 16-bit bands)
    val rows = Similarity.withNorm(corpus, "embedding")
      .select(col("vec_id"), col("vecd"), col("norm"))
      .withColumn("hsig", HyperplaneSig(col("vecd")))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray, r.getDouble(2),
        r.getLong(3)))
    val out = Similarity.hyperplaneSigPairs(corpus, "vec_id", "embedding", minCos)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    var withinRadius = 0
    for {
      i <- rows.indices
      j <- (i + 1) until rows.length
      (ida, va, na, sa) = rows(i)
      (idb, vb, nb, sb) = rows(j)
      if java.lang.Long.bitCount(sa ^ sb) <= 3
    } {
      var dot = 0.0
      var p = 0
      while (p < va.length) { dot += va(p) * vb(p); p += 1 }
      val cos = BigDecimal(dot / (na * nb))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      if (cos >= minCos) {
        withinRadius += 1
        val pair = if (ida < idb) (ida, idb) else (idb, ida)
        assert(out.contains(pair),
          s"pair $pair within Hamming 3 (cos $cos) missing from candidates")
      }
    }
    assert(withinRadius > 0, "fixture produced no within-radius pair — vacuous")
  }

  test("null elements and empty vectors yield signature 0") {
    val df = Seq(
      (1L, Seq[Option[Double]](Some(1.0), None, Some(2.0))),
      (2L, Seq.empty[Option[Double]])
    ).toDF("id", "vecd")
    val got = df.select(col("id"), HyperplaneSig(col("vecd")).as("s"),
      HyperplaneSig.hi(col("vecd")).as("s2"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got == Map(1L -> (0L, 0L), 2L -> (0L, 0L)))
  }
}
