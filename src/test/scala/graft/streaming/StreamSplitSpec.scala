package graft.streaming

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Streaming leakage-safe split: detected pairs share a split (batch-
  * local chains included), later twins inherit the ORIGINAL
  * representative across batches, shipped splits never flip, replays
  * reproduce assignments bit-for-bit, and nothing is ever dropped. */
class StreamSplitSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val base =
    "the quick brown fox jumps over the lazy dog again and again today"
  private def dfOf(rows: (Long, String)*) = rows.toDF("doc_id", "text")

  private def collect(df: org.apache.spark.sql.DataFrame) =
    df.select("doc_id", "rep", "split").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap

  test("batch-local chain shares one split; cross-batch twin inherits the " +
    "original rep; replay and shipped assignments are stable") {
    val dir = Files.createTempDirectory("graft-ssplit").toString
    val split = new StreamSplit(spark, dir, valMilli = 100, compactEvery = 2)
    split.init()
    // batch 1: a chain 1~2 (word swap) and 2~3, plus an unrelated doc 9
    val b1 = dfOf(
      1L -> base,
      2L -> base.replace("today", "tomorrow"),
      3L -> base.replace("today", "tomorrow").replace("quick", "swift"),
      9L -> "completely different words compose this other sentence here")
    val o1 = collect(split.assign(b1, "doc_id", "text", 0L))
    assert(o1.size == 4, "a row was dropped")
    assert(o1(1L) == o1(2L) && o1(2L) == o1(3L),
      s"batch-local chain split apart: $o1")
    assert(o1(1L)._1 == 1L, "chain rep should be the min id")
    assert(o1(9L)._1 == 9L, "unrelated doc must be its own cluster")

    // batch 2: a twin of doc 2 (id 20) — must inherit rep 1, not 2
    val b2 = dfOf(20L -> base.replace("today", "tomorrow"))
    val o2 = collect(split.assign(b2, "doc_id", "text", 1L))
    assert(o2(20L)._1 == 1L,
      s"cross-batch twin did not inherit the original rep: ${o2(20L)}")
    assert(o2(20L)._2 == o1(1L)._2, "cross-batch twin straddles the split")

    // replay batch 2: identical assignment, store not re-appended
    val o2r = collect(split.assign(b2, "doc_id", "text", 1L))
    assert(o2r == o2, "replayed batch diverged")

    // batch 3 re-presents doc 1's text under a new id after compaction
    // pressure: still rep 1 — shipped splits never flip
    val b3 = dfOf(30L -> base)
    val o3 = collect(split.assign(b3, "doc_id", "text", 2L))
    assert(o3(30L)._1 == 1L && o3(30L)._2 == o1(1L)._2)
  }

  test("ADVERSARIAL late merge: a shipped cluster undercut by a later " +
    "batch-local min id diverges, the merge is RECORDED, and the batch " +
    "reconcile emits exactly the corrections that restore q96 equality") {
    import org.apache.spark.sql.functions.{col, lit}
    // choose valMilli so rep 3 and rep 10 land in DIFFERENT splits: the
    // divergence must be observable, not hash-coincidentally hidden
    val hs = Seq("3", "10").toDF("s")
      .select(graft.functions.TextAnalysis.strHash(col("s")) % 1000)
      .collect().map(_.getLong(0))
    assert(hs(0) != hs(1), "pick different ids: rep hashes collide mod 1000")
    val valMilli = math.max(hs(0), hs(1)).toInt // smaller-hash rep -> val
    val dir = Files.createTempDirectory("graft-ssplit3").toString
    val split = new StreamSplit(spark, dir, valMilli = valMilli)
    split.init()
    // batch 0 ships doc 10 alone; batch 1 brings two exact twins whose
    // batch-local component min (3) UNDERCUTS the claimed rep 10 — docs
    // 3/5 ship under rep 3 while shipped doc 10 keeps rep 10: a detected
    // pair (3,10) now straddles the boundary (the honest contract's
    // documented divergence)
    val o0 = collect(split.assign(dfOf(10L -> base), "doc_id", "text", 0L))
    val o1 = collect(split.assign(dfOf(3L -> base, 5L -> base),
      "doc_id", "text", 1L))
    assert(o0(10L)._1 == 10L && o1(3L)._1 == 3L && o1(5L)._1 == 3L)
    assert(o0(10L)._2 != o1(3L)._2,
      "fixture must exhibit the divergence (rep hashes chosen to differ)")
    // the merge is recorded, not silent: both bridge docs name the
    // losing shipped rep
    val ev = split.mergeEvents()
      .select("batch_id", "id", "rep_kept", "rep_lost").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(ev == Set((1L, 3L, 3L, 10L), (1L, 5L, 3L, 10L)),
      s"merge events wrong: $ev")
    // replaying the batch is idempotent for assignments AND events
    val o1r = collect(split.assign(dfOf(3L -> base, 5L -> base),
      "doc_id", "text", 1L))
    assert(o1r == o1, "replayed batch diverged")
    assert(split.mergeEvents().count() == 2, "replay duplicated merge events")
    // reconcile: ground truth merges all three under rep 3; the single
    // correction is shipped doc 10, and applying it restores equality
    val assigned = Seq(
      (10L, base, o0(10L)._2), (3L, base, o1(3L)._2), (5L, base, o1(5L)._2))
      .toDF("doc_id", "text", "split")
    val corr = StreamSplit.reconcile(assigned, "doc_id", "text",
      valMilli = valMilli).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    assert(corr.toSeq == Seq((10L, o0(10L)._2, o1(3L)._2)),
      s"corrections wrong: ${corr.toSeq}")
    val (n, c, milli) = StreamSplit.reconcileSummary(assigned, "doc_id",
      "text", valMilli = valMilli)
    assert((n, c, milli) == ((3L, 1L, 333L)))
    // applying the corrections == the from-scratch q96 split, exactly
    val corrected = assigned.join(
      StreamSplit.reconcile(assigned, "doc_id", "text", valMilli = valMilli)
        .select(col("doc_id"), col("new_split")),
      Seq("doc_id"), "left")
      .select(col("doc_id"),
        org.apache.spark.sql.functions.coalesce(col("new_split"),
          col("split")).as("split"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val truth = graft.operators.Mixing.leakageSafeSplit(
      assigned, "doc_id", "text", valMilli = valMilli)
      .select("doc_id", "split")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(corrected == truth, "corrections did not restore q96 equality")
  }

  test("no merge events on a bridge that CONVERGES (claimed rep wins)") {
    val dir = Files.createTempDirectory("graft-ssplit4").toString
    val split = new StreamSplit(spark, dir)
    split.init()
    split.assign(dfOf(1L -> base), "doc_id", "text", 0L).collect()
    // 20 inherits rep 1 via the claimed bucket: no shipped cluster loses
    val o = collect(split.assign(dfOf(20L -> base), "doc_id", "text", 1L))
    assert(o(20L)._1 == 1L)
    assert(split.mergeEvents().count() == 0,
      "a converging inheritance must not be recorded as a merge")
  }

  test("retraction: a deleted representative stops governing future " +
    "placements; the next arrival re-claims; merge log is scrubbed") {
    val dir = Files.createTempDirectory("graft-ssplit-ret").toString
    val split = new StreamSplit(spark, dir, valMilli = 500, compactEvery = 8)
    split.init()
    val o1 = collect(split.assign(dfOf(5L -> base), "doc_id", "text", 0L))
    assert(o1(5L)._1 == 5L)
    // a twin inherits rep 5 while the claim stands
    val o2 = collect(split.assign(
      dfOf(20L -> base.replace("today", "tomorrow")), "doc_id", "text", 1L))
    assert(o2(20L)._1 == 5L)
    // the takedown: doc 5 deleted — its claims must clear
    assert(StreamSplit.held(spark, dir, Seq(5L)) > 0L)
    assert(StreamSplit.retract(spark, dir, Seq(5L)) > 0L)
    assert(StreamSplit.held(spark, dir, Seq(5L)) == 0L)
    // the next twin claims fresh: it no longer inherits the dead id.
    // (doc 20's own claims from batch 1 still stand — it SHIPPED and
    // survives — so the new arrival inherits 20 where buckets overlap,
    // never 5.)
    val o3 = collect(split.assign(dfOf(30L -> base), "doc_id", "text", 2L))
    assert(o3(30L)._1 != 5L, s"dead rep still governs: ${o3(30L)}")
    // shipped assignments were NOT rewritten (immutability contract):
    // reconcile over the shipped corpus is the repair path, unchanged
    val merged = split.mergeEvents().collect()
    assert(!merged.exists(r => r.getLong(2) == 5L || r.getLong(3) == 5L),
      "merge log still names the retracted id")
  }

  test("signatureless short docs pass through as their own singletons") {
    val dir = Files.createTempDirectory("graft-ssplit2").toString
    val split = new StreamSplit(spark, dir)
    split.init()
    val out = collect(split.assign(dfOf(5L -> "hi", 6L -> "yo"),
      "doc_id", "text", 0L))
    assert(out(5L)._1 == 5L && out(6L)._1 == 6L)
  }
}
