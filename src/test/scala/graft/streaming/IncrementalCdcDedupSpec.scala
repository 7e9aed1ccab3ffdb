package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.operators.Dedup

/** Streaming CDC claims ([[IncrementalCdcDedup]]): cross-batch
  * shifted-boilerplate drop, sub-threshold partial overlap survives,
  * single-batch parity with the batch tier's min-carrier rule,
  * retraction revival, replay idempotence, dropped docs claim
  * nothing. */
class IncrementalCdcDedupSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val W = 8
  private val B = 4

  private val para = (1 to 300)
    .map(i => s"w${i % 41}y${(i * 13) % 89}").mkString(" ")
  private def uniq(tag: String, n: Int): String =
    (1 to n).map(i => s"$tag$i").mkString(" ")

  private def fresh(): IncrementalCdcDedup = {
    val root = Files.createTempDirectory("graft-cdc-claims").toString
    val d = new IncrementalCdcDedup(spark, root, window = W, maskBits = B,
      minDupPpm = 500000L)
    d.init()
    d
  }

  test("cross-batch: a shifted copy arriving later drops; unique and " +
    "sub-threshold partial overlap survive; dropped docs claim nothing") {
    val d = fresh()
    val b1 = Seq((1L, para)).toDF("doc_id", "text")
    assert(d.filterAndClaim(b1, "doc_id", "text")
      .select("doc_id").as[Long].collect().toSeq == Seq(1L))
    // batch 2: a shifted copy (edit at the front), a mostly-unique doc
    // with ONE lifted paragraph (sub-threshold), a fully unique doc
    val lift = para.split(" ").take(60).mkString(" ")
    val b2 = Seq(
      (10L, "EDITED PREFIX " + para),
      (11L, uniq("own", 500) + " " + lift),
      (12L, uniq("solo", 200))).toDF("doc_id", "text")
    val kept2 = d.filterAndClaim(b2, "doc_id", "text")
      .select("doc_id").as[Long].collect().toSet
    assert(kept2 == Set(11L, 12L), s"$kept2")
    // the dropped copy claimed nothing: its NOVEL chunks (the edited
    // prefix region) are still unclaimed, so a later doc made of them
    // survives
    val claimants = d.read().select("claimant").distinct()
      .as[Long].collect().toSet
    assert(!claimants.contains(10L), s"dropped doc claimed: $claimants")
  }

  test("single-batch parity with the batch tier's min-carrier rule") {
    val d = fresh()
    val batch = Seq(
      (1L, para),
      (2L, "X " + para),            // shifted copy, higher id -> drops
      (3L, uniq("a", 400)),
      (4L, uniq("a", 400)),         // exact copy of 3 -> drops
      (5L, uniq("z", 150))).toDF("doc_id", "text")
    val kept = d.filterAndClaim(batch, "doc_id", "text")
      .select("doc_id").as[Long].collect().toSet
    // batch reference: dup tokens = chunk occurrences whose hash's
    // MIN batch carrier is a smaller id; drop at >= 500000 ppm
    val ch = Dedup.cdcChunks(batch, "doc_id", "text", W, B)
      .select(col("doc_id").cast("long").as("id"), col("n_tokens"),
        col("h"))
      .as[(Long, Long, Long)].collect()
    val minCarrier = ch.groupBy(_._3).map { case (h, rows) =>
      h -> rows.map(_._1).min
    }
    val want = ch.groupBy(_._1).collect { case (id, rows) =>
      val tot = rows.map(_._2).sum
      val dup = rows.filter(r => minCarrier(r._3) < id).map(_._2).sum
      id -> (dup * 1000000L / tot < 500000L)
    }.collect { case (id, keep) if keep => id }.toSet
    assert(kept == want, s"twin $kept vs batch reference $want")
    assert(kept == Set(1L, 3L, 5L), s"$kept")
  }

  test("retraction revival: retract the claimant and the replayed copy " +
    "survives and becomes the new claimant; replay is idempotent") {
    val d = fresh()
    val b1 = Seq((1L, para)).toDF("doc_id", "text")
    d.filterAndClaim(b1, "doc_id", "text")
    val copy = Seq((2L, para)).toDF("doc_id", "text")
    assert(d.filterAndClaim(copy, "doc_id", "text").count() == 0L)
    // replaying the SAME batch is stable: claimant === own id never dups
    assert(d.filterAndClaim(b1, "doc_id", "text").count() == 1L)
    // the takedown: doc 1 deleted -> claims clear -> the recrawled copy
    // survives and claims
    assert(d.held(Seq(1L)) > 0L)
    assert(d.retract(Seq(1L)) > 0L)
    assert(d.held(Seq(1L)) == 0L)
    assert(d.filterAndClaim(copy, "doc_id", "text").count() == 1L)
    val claimants = d.read().select("claimant").distinct()
      .as[Long].collect().toSet
    assert(claimants == Set(2L), s"$claimants")
    // and a THIRD copy now drops against the revived claimant
    assert(d.filterAndClaim(Seq((3L, para)).toDF("doc_id", "text"),
      "doc_id", "text").count() == 0L)
  }

  test("plan pin: the chunk relation the claims probe consumes carries " +
    "only (id, n_tokens, h) longs — the text never leaves the scan") {
    val batch = Seq((1L, para)).toDF("doc_id", "text")
    val ch = Dedup.cdcChunks(batch, "doc_id", "text", W, B)
      .select(col("doc_id").cast("long").as("id"), col("n_tokens"),
        col("h"))
    val plan = ch.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(graft.PlanChecks.shuffleExchanges(plan) == 0, plan)
  }

  test("NULL-text rows pass unexamined; store persists across reopen") {
    val root = Files.createTempDirectory("graft-cdc-claims2").toString
    val d = new IncrementalCdcDedup(spark, root, window = W, maskBits = B)
    d.init()
    val b = Seq((1L, Option(para)), (2L, Option.empty[String]))
      .toDF("doc_id", "text")
    assert(d.filterAndClaim(b, "doc_id", "text")
      .select("doc_id").as[Long].collect().toSet == Set(1L, 2L))
    val d2 = new IncrementalCdcDedup(spark, root, window = W, maskBits = B)
    d2.init()
    assert(d2.filterAndClaim(Seq((3L, para)).toDF("doc_id", "text"),
      "doc_id", "text").count() == 0L)
  }
}
