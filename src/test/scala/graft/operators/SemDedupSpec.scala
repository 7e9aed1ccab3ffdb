package graft.operators

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.{Tables, TestSpark}

/** SemDeDup ([[Similarity.semDedup]]): cluster-confined semantic
  * deduplication — drop every vector with a lower-id within-cell neighbor
  * at cosine ≥ τ, keep the rest. */
class SemDedupSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  // Two tight duplicate groups plus two isolated vectors; id 0/4/8 are the
  // deterministic centroids (centroidEvery = 4). Groups are built parallel
  // (cos = 1.0) or near-parallel, isolates orthogonal.
  private def handBuilt = {
    import spark.implicits._
    Seq(
      (0L, Array(1f, 0f, 0f, 0f)),   // centroid; group A keeper
      (1L, Array(2f, 0f, 0f, 0f)),   // ∥ to 0 → dropped, dup_of 0
      (2L, Array(4f, 0f, 0f, 0f)),   // ∥ to 0 → dropped, dup_of 0
      (3L, Array(0f, 0f, 0f, 1f)),   // isolated (orthogonal to all)
      (4L, Array(0f, 1f, 0f, 0f)),   // centroid; group B keeper
      (5L, Array(0f, 3f, 0f, 0f)),   // ∥ to 4 → dropped, dup_of 4
      (8L, Array(0f, 0f, 1f, 0f))    // centroid; isolated
    ).toDF("vec_id", "embedding")
  }

  test("hand-built duplicate groups: drops followers, keeps lowest id") {
    val dropped = Similarity.semDedup(handBuilt, "vec_id", "embedding",
      minCos = 0.9, centroidEvery = 4)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3))).toSet
    // (vec_id, dup_of, n_dups): 1 dups 0; 2 dups 0 AND 1; 5 dups 4
    assert(dropped == Set((1L, 0L, 1L), (2L, 0L, 2L), (5L, 4L, 1L)))
    val kept = Similarity.semDedupKeep(handBuilt, "vec_id", "embedding",
      minCos = 0.9, centroidEvery = 4)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(0L, 3L, 4L, 8L))
  }

  test("keep + dropped partition the corpus; keepers have no lower dup") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val all = emb.select("vec_id").collect().map(_.getLong(0)).toSet
    val dropped = Similarity.semDedup(emb, "vec_id", "embedding",
      minCos = 0.3, centroidEvery = 50)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getDouble(4)))
    val kept = Similarity.semDedupKeep(emb, "vec_id", "embedding",
      minCos = 0.3, centroidEvery = 50)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val droppedIds = dropped.map(_._1).toSet
    assert(droppedIds.nonEmpty, "threshold 0.3 should drop something")
    assert((kept union droppedIds) == all)
    assert((kept intersect droppedIds).isEmpty)
    // every drop names a lower-id duplicate at or above the threshold
    dropped.foreach { case (id, dupOf, topCos) =>
      assert(dupOf < id, s"$id dup_of $dupOf is not lower")
      assert(topCos >= 0.3, s"$id top cosine $topCos below threshold")
    }
  }

  test("plan: centroid assignment broadcasts; self-join keyed on cell") {
    val df = Similarity.semDedup(
      Tables.embeddings(spark, "/root/testdata/sf0.001"),
      "vec_id", "embedding", minCos = 0.4, centroidEvery = 50)
    val p = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"centroid set not broadcast:\n$p")
    // the corpus embedding column never crosses an exchange row-wise more
    // than the cell-keyed self-join requires: id-window + cell join sides
    assert(graft.PlanChecks.shuffleExchanges(p) <= 4,
      s"unexpected extra shuffle:\n$p")
  }

  test("plan: nearest_centroid evaluates ONCE per row per join side — " +
    "the inferred isnotnull(cell) must not duplicate the argmax below " +
    "the assignment projection") {
    // the round-17 plans shipped `isnotnull(nearest_centroid(transform(
    // embedding…)))` pushed under BOTH join inputs — the full
    // dim × nCents argmax (and the vecd/norm subtree) twice per row per
    // side (guide §4.4). NearestCentroid/NearestResidual are declared
    // non-deterministic to make that impossible; this pin keeps it so.
    val df = Similarity.semDedup(
      Tables.embeddings(spark, "/root/testdata/sf0.001"),
      "vec_id", "embedding", minCos = 0.4, centroidEvery = 50)
    val p = df.queryExecution.optimizedPlan.toString
    assert(!p.contains("isnotnull(nearest_centroid"),
      s"duplicated assignment evaluation:\n${p.take(4000)}")
    val df2 = Similarity.semDedupTwoLevel(
      Tables.embeddings(spark, "/root/testdata/sf0.001"),
      "vec_id", "embedding", minCos = 0.4, every1 = 50, every2 = 37)
    val p2 = df2.queryExecution.optimizedPlan.toString
    assert(!p2.contains("isnotnull(nearest_residual") &&
      !p2.contains("isnotnull(nearest_centroid"),
      s"duplicated two-level assignment evaluation:\n${p2.take(4000)}")
  }

  test("pair-block salting is result-invariant: g = 1, 3, default agree " +
    "bit-for-bit, and the pair join is keyed on (cell, _pb)") {
    // the skew-safe decomposition (side a replicated g ways, side b
    // blocked by id hash) must change only the TASK layout, never the
    // pair set: every (id_a < id_b) within-cell pair joins exactly once,
    // under a's copy whose _pb equals b's block
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    def run(): Set[(Long, Long, Long, Long, Double)] =
      Similarity.semDedup(emb, "vec_id", "embedding",
        minCos = 0.3, centroidEvery = 50)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getDouble(4))).toSet
    def run2(): Set[(Long, Long, Long, Long, Long, Double)] =
      Similarity.semDedupTwoLevel(emb, "vec_id", "embedding",
        minCos = 0.3, every1 = 50, every2 = 37)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4), r.getDouble(5))).toSet
    val key = "spark.graft.semdedup.pairblocks"
    val base = (run(), run2()) // default g
    for (g <- Seq("1", "3")) {
      spark.conf.set(key, g)
      try assert((run(), run2()) == base, s"pairblocks=$g changed results")
      finally spark.conf.unset(key)
    }
    val p = Similarity.semDedup(emb, "vec_id", "embedding",
      minCos = 0.3, centroidEvery = 50)
      .queryExecution.optimizedPlan.toString
    assert(p.contains("_pb"), s"pair join not block-salted:\n${p.take(3000)}")
  }

  test("pairblocks outside [1, 65536] fails loud before any pair join") {
    val key = "spark.graft.semdedup.pairblocks"
    for (g <- Seq("0", "65537")) {
      spark.conf.set(key, g)
      try {
        val e = intercept[IllegalArgumentException] {
          Similarity.semDedup(handBuilt, "vec_id", "embedding",
            minCos = 0.9, centroidEvery = 4)
        }
        assert(e.getMessage.contains(s"pairblocks must be in [1, 65536], got $g"))
      } finally spark.conf.unset(key)
    }
  }

  test("semDedup drops nothing when the threshold exceeds every cosine") {
    val none = Similarity.semDedup(handBuilt, "vec_id", "embedding",
      minCos = 1.1, centroidEvery = 4)
    assert(none.count() == 0)
    assert(Similarity.semDedupKeep(handBuilt, "vec_id", "embedding",
      minCos = 1.1, centroidEvery = 4).count() == handBuilt.count())
  }
}
