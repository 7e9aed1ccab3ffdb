package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.TestSpark.countJobs
import graft.operators.Dedup

/** Incremental chunk-count accumulation + periodic re-scrub: exact
  * batch parity (the additivity claim, proven end to end), replay
  * idempotence, compaction transparency, the per-batch job count and
  * loud over-retraction. */
class StreamBoilerplateSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val boiler = "terms of service apply to all content here"
  private def b1 = Seq(
    (1L, s"$boiler apple banana cherry date"),
    (2L, "totally unrelated words compose this document")
  ).toDF("doc_id", "text")
  private def b2 = Seq(
    (3L, s"$boiler quick brown fox jumps"),
    (4L, boiler),
    (5L, "another unique document with its own words entirely")
  ).toDF("doc_id", "text")

  private def collect(df: DataFrame) =
    df.collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap

  test("accumulated counts reproduce the batch operator exactly; the dup " +
    "set only appears once the second batch crosses minDocs") {
    val dir = Files.createTempDirectory("graft-sboiler").toString
    val counts = new StreamBoilerplate.ChunkCounts(spark, dir, span = 8)
    counts.observe(b1, "doc_id", "text", batchId = 0L)
    // after batch 1 the boiler chunk has nd = 1: nothing is boilerplate yet
    assert(counts.dupChunks(minDocs = 2).isEmpty)
    val union1 = b1
    assert(collect(StreamBoilerplate.rescrub(union1, "doc_id", "text", counts))
      == collect(Dedup.scrubDupSpans(union1, "doc_id", "text", span = 8)))

    counts.observe(b2, "doc_id", "text", batchId = 1L)
    // cross-batch additivity: nd(boiler) = 1 + 2 = 3 >= 2 — chunks counted
    // in different batches combine exactly
    val union = b1.unionAll(b2)
    val streamed = collect(
      StreamBoilerplate.rescrub(union, "doc_id", "text", counts))
    val batch = collect(Dedup.scrubDupSpans(union, "doc_id", "text", span = 8))
    assert(streamed == batch,
      s"store-driven rescrub diverged from the batch operator:\n$streamed\nvs\n$batch")
    // and the rewrite really engaged
    assert(streamed(1L) == (("apple banana cherry date", 1L)))
    assert(streamed(4L) == (("", 1L)))
    assert(streamed(5L)._2 == 0L)
  }

  test("replayed batch appends nothing; compaction preserves the counts") {
    val dir = Files.createTempDirectory("graft-sboiler2").toString
    val counts = new StreamBoilerplate.ChunkCounts(spark, dir, span = 8,
      compactEvery = 2)
    counts.observe(b1, "doc_id", "text", batchId = 0L)
    counts.observe(b1, "doc_id", "text", batchId = 0L) // crash replay
    // replay must not double-count: boiler chunk still nd = 1
    assert(counts.dupChunks(minDocs = 2).isEmpty,
      "replayed batch double-counted chunk sightings")
    counts.observe(b2, "doc_id", "text", batchId = 1L) // triggers compaction
    val union = b1.unionAll(b2)
    assert(collect(StreamBoilerplate.rescrub(union, "doc_id", "text", counts))
      == collect(Dedup.scrubDupSpans(union, "doc_id", "text", span = 8)),
      "post-compaction counts diverged from the batch operator")
  }

  test("observe runs 5 Spark jobs per batch and none on a replay") {
    val dir = Files.createTempDirectory("graft-sboiler-jobs").toString
    val counts = new StreamBoilerplate.ChunkCounts(spark, dir, span = 8)
    assert(countJobs(counts.observe(b1, "doc_id", "text", batchId = 0L)) == 5)
    assert(countJobs(counts.observe(b2, "doc_id", "text", batchId = 1L)) == 5)
    // the replayed token is recognised before the delta is built
    assert(countJobs(counts.observe(b1, "doc_id", "text", batchId = 0L)) == 0)
  }

  test("retraction: deleting a chunk's carriers stops the scrub — counts " +
    "equal the batch operator over the SURVIVORS; replays fold nothing " +
    "twice; over-retraction fails loud") {
    val dir = Files.createTempDirectory("graft-sboiler3").toString
    val counts = new StreamBoilerplate.ChunkCounts(spark, dir, span = 8)
    counts.observe(b1, "doc_id", "text", batchId = 0L)
    counts.observe(b2, "doc_id", "text", batchId = 1L)
    // delete docs 3 and 4: the boiler chunk drops from nd=3 to nd=1 —
    // no longer boilerplate; the surviving corpus scrubs nothing
    val deleted = b2.filter($"doc_id".isin(3L, 4L))
    counts.retract(deleted, "doc_id", "text", token = "r0")
    counts.retract(deleted, "doc_id", "text", token = "r0") // crash replay
    val survivors = b1.unionAll(b2.filter($"doc_id" === 5L))
    val streamed = collect(
      StreamBoilerplate.rescrub(survivors, "doc_id", "text", counts))
    val batch = collect(
      Dedup.scrubDupSpans(survivors, "doc_id", "text", span = 8))
    assert(streamed == batch,
      s"post-retraction rescrub diverged:\n$streamed\nvs\n$batch")
    assert(streamed(1L)._2 == 0L, "boiler chunk still scrubbed after its " +
      "other carriers were deleted")
    // over-retraction: doc 5's unique chunk observed once, retracted
    // twice — goes negative, loud
    counts.retract(b2.filter($"doc_id" === 5L), "doc_id", "text", "r1")
    counts.retract(b2.filter($"doc_id" === 5L), "doc_id", "text", "r2")
    val e = intercept[IllegalArgumentException](counts.dupChunks(2))
    assert(e.getMessage.contains("negative"))
  }

  test("CdcCounts: cross-batch additive CDC counts reproduce the batch " +
    "operator; replay appends nothing; retraction returns the scrub to " +
    "the survivors' verdicts") {
    val para = (1 to 400).map(i => s"w${i % 37}x${(i * 31) % 101}")
      .mkString(" ")
    val d1 = Seq((1L, s"v1 $para")).toDF("doc_id", "text")
    val d2 = Seq((2L, s"v2 $para"),
      (3L, (1 to 200).map(i => s"own$i").mkString(" ")))
      .toDF("doc_id", "text")
    val dir = Files.createTempDirectory("graft-cdccounts").toString
    val counts = new StreamBoilerplate.CdcCounts(spark, dir)
    counts.observe(d1, "doc_id", "text", batchId = 0L)
    counts.observe(d1, "doc_id", "text", batchId = 0L) // crash replay
    // after batch 1 alone nothing is boilerplate yet
    assert(counts.dupChunks(minDocs = 2).isEmpty)
    counts.observe(d2, "doc_id", "text", batchId = 1L)
    val union = d1.unionAll(d2)
    val streamed = collect(StreamBoilerplate.rescrubCdc(
      union, "doc_id", "text", counts))
    val batch = collect(Dedup.scrubCdcChunks(union, "doc_id", "text"))
    assert(streamed == batch,
      s"store-driven CDC rescrub diverged:\n$streamed\nvs\n$batch")
    assert(streamed(1L)._2 > 0L && streamed(2L)._2 > 0L &&
      streamed(3L)._2 == 0L, s"$streamed")
    // retract doc 2: the shared chunks drop to one carrier — the
    // survivors scrub NOTHING (stale counts must not keep masking)
    counts.retract(d2.filter($"doc_id" === 2L), "doc_id", "text", "r0")
    val survivors = d1.unionAll(d2.filter($"doc_id" === 3L))
    val after = collect(StreamBoilerplate.rescrubCdc(
      survivors, "doc_id", "text", counts))
    assert(after.values.forall(_._2 == 0L), s"$after")
    assert(after(1L)._1 == s"v1 $para", "survivor was rewritten")
    // over-retraction: doc 3 was observed once and is retracted twice
    counts.retract(d2.filter($"doc_id" === 3L), "doc_id", "text", "r1")
    counts.retract(d2.filter($"doc_id" === 3L), "doc_id", "text", "r2")
    val e = intercept[IllegalArgumentException](counts.dupChunks(2))
    assert(e.getMessage.contains(dir) &&
      e.getMessage.contains("negative total"), e.getMessage)
  }
}
