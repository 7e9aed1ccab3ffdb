package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.operators.Dedup

/** Line-level keep-first dedup under continuous ingestion
  * ([[IncrementalLineDedup]]): claims persist across micro-batches, a
  * single batch matches the batch operator exactly, replays are idempotent,
  * and exactly one copy of every duplicated line survives regardless of how
  * arrival slices the corpus.
  */
class IncrementalLineDedupSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def fresh() = {
    val dd = new IncrementalLineDedup(spark,
      Files.createTempDirectory("graft-inc-line").toString, compactEvery = 2)
    dd.init()
    dd
  }

  private def collect(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2))))
      .toMap

  test("single batch is identical to the batch operator at minReps=2, " +
    "including trim folding, blank exemption, and byte-identity") {
    val docs = Seq(
      (1L, "x\ny\nx\n\nz"),
      (2L, "y\nq\n  \nx"),
      (3L, "unique  line\nanother one\t"),
      (4L, " x")
    ).toDF("doc_id", "text")
    val streamed = collect(fresh().scrubAndClaim(docs, "doc_id", "text"))
    val batch = collect(Dedup.dedupLinesKeepFirst(docs, "doc_id", "text"))
    assert(streamed == batch)
  }

  test("cross-batch: earlier batches own their lines; later copies scrub, " +
    "novel lines pass and claim") {
    val dd = fresh()
    val b1 = Seq((1L, "alpha\nbeta"), (2L, "gamma")).toDF("doc_id", "text")
    assert(collect(dd.scrubAndClaim(b1, "doc_id", "text")) ==
      Map(1L -> (("alpha\nbeta", 0L)), 2L -> (("gamma", 0L))))
    // beta claimed by (1,1); " beta " folds onto it by trim identity
    val b2 = Seq((3L, "delta\n beta "), (4L, "gamma\ndelta"))
      .toDF("doc_id", "text")
    assert(collect(dd.scrubAndClaim(b2, "doc_id", "text")) ==
      Map(3L -> (("delta", 1L)),          // lost beta@1 to batch 1
          4L -> (("", 2L))))              // gamma to b1, delta to (3,0)
  }

  test("replay idempotence: re-running a committed batch scrubs the same " +
    "positions — claimants keep their own lines") {
    val dd = fresh()
    dd.scrubAndClaim(Seq((1L, "a\nb")).toDF("doc_id", "text"),
      "doc_id", "text").count()
    val b2 = Seq((2L, "b\nc"), (3L, "c\nd")).toDF("doc_id", "text")
    val first = collect(dd.scrubAndClaim(b2, "doc_id", "text"))
    assert(first == Map(2L -> (("c", 1L)), 3L -> (("d", 1L))))
    val replay = collect(dd.scrubAndClaim(b2, "doc_id", "text"))
    assert(replay == first)
    // and the claims table did not double-claim: one row per distinct line
    val claims = dd.read().count()
    assert(claims == 4L) // a b c d
  }

  test("arrival-order adversarial: across any slicing, exactly one copy " +
    "of each duplicated line survives, owned by its first arrival") {
    val docs = Seq(
      (1L, "p\nq"), (2L, "q\nr"), (3L, "r\np"), (4L, "p\ns"))
    def run(slices: Seq[Seq[(Long, String)]]): Map[Long, (String, Long)] = {
      val dd = fresh()
      slices.map(s => collect(
        dd.scrubAndClaim(s.toDF("doc_id", "text"), "doc_id", "text")))
        .reduce(_ ++ _)
    }
    val oneBatch = run(Seq(docs))
    val perDoc = run(docs.map(Seq(_)))
    val reversedSlices = run(docs.reverse.map(Seq(_)))
    // one-batch and per-doc-in-id-order agree exactly (keep-first ties on
    // (id, p) within a batch = arrival order across batches here)
    assert(perDoc == oneBatch)
    // reversed arrival keeps different owners, but the INVARIANT holds:
    // every distinct line survives exactly once
    def survivors(m: Map[Long, (String, Long)]): Seq[String] =
      m.values.flatMap(_._1.split("\n", -1)).filter(_.trim.nonEmpty).toSeq
    assert(survivors(oneBatch).sorted == Seq("p", "q", "r", "s"))
    assert(survivors(reversedSlices).sorted == Seq("p", "q", "r", "s"))
    // reversed arrival: doc 4 came first and owns p and s
    assert(reversedSlices(4L) == (("p\ns", 0L)))
  }

  test("compaction keeps the store exact: behavior unchanged past " +
    "compactEvery batches") {
    val dd = fresh() // compactEvery = 2
    (1L to 5L).foreach { i =>
      dd.scrubAndClaim(Seq((i, s"line$i\nshared")).toDF("doc_id", "text"),
        "doc_id", "text").count()
    }
    // 'shared' claimed once by doc 1; five distinct line$i claims
    assert(dd.read().count() == 6L)
    val out = collect(dd.scrubAndClaim(
      Seq((9L, "shared\nline3\nnovel")).toDF("doc_id", "text"),
      "doc_id", "text"))
    assert(out(9L) == (("novel", 2L)))
  }
}
