package graft.store

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.streaming._

/** The delta-log commit step ([[Snapshots.commit]]) and the claim log
  * built on it ([[ClaimLog]]): empty deltas append nothing, compaction
  * fires exactly at `compactEvery`, every streaming store rejects a
  * depth below 1 before touching disk, and a retraction survives a
  * reopen. */
class CommitStepSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val kv = StructType(Seq(
    StructField("k", StringType, nullable = false),
    StructField("claimant", LongType, nullable = false)))

  private def tmp(name: String): String =
    Files.createTempDirectory(s"graft-commit-$name").toString

  private def delta(rows: (String, Long)*) =
    rows.toDF("k", "claimant")

  private def manifest(root: String): String =
    new String(Files.readAllBytes(Paths.get(root, "current")))

  test("an empty delta appends nothing and leaves deltaCount unchanged") {
    val root = tmp("empty")
    val s = new Snapshots(spark, root, kv, compactEvery = 4)
    s.init()
    s.commit(delta(("a", 1L)), Some("b1"))
    val before = manifest(root)
    s.commit(delta(("x", 9L)).filter(lit(false)))
    s.commit(delta(("x", 9L)).filter(lit(false)), Some("b2"))
    assert(s.deltaCount == 1)
    assert(manifest(root) == before)
    assert(!Files.exists(Paths.get(root, "delta-b2")),
      "an empty tokened delta must not leave a directory behind")
    assert(s.read().count() == 1L)
  }

  test("compaction happens exactly at compactEvery, from the given source") {
    val root = tmp("cadence")
    val s = new Snapshots(spark, root, kv, compactEvery = 3)
    s.init()
    var folds = 0
    def folded() = { folds += 1; s.read().groupBy("k").agg(sum("claimant").as("claimant")) }
    s.commit(delta(("a", 1L)), compacted = folded())
    s.commit(delta(("a", 2L)), compacted = folded())
    assert(s.deltaCount == 2 && folds == 0, "compacted before the third delta")
    s.commit(delta(("b", 5L)), compacted = folded())
    assert(s.deltaCount == 0 && folds == 1, "no compaction at the third delta")
    assert(s.read().as[(String, Long)].collect().toSet == Set(("a", 3L), ("b", 5L)))
    // the cadence restarts from the new base
    s.commit(delta(("c", 1L)))
    assert(s.deltaCount == 1)
  }

  test("a replayed claim appends nothing; compaction keeps every claim") {
    val root = tmp("claim")
    val log = new ClaimLog(spark, root, kv, compactEvery = 2)
    log.init()
    val kept = log.claim(delta(("a", 1L)), delta(("a", 1L), ("b", 2L)))
    assert(kept.count() == 1L)
    val once = manifest(root)
    log.claim(delta(("a", 1L), ("b", 2L)), None)
    assert(manifest(root) == once, "a replayed claim advanced the log")
    log.claim(delta(("a", 7L), ("c", 3L)), None) // "a" is held: first writer wins
    assert(new Snapshots(spark, root, kv).deltaCount == 0, "second delta must compact")
    assert(log.read().as[(String, Long)].collect().toSet ==
      Set(("a", 1L), ("b", 2L), ("c", 3L)))
    // a tokened replay is recognised before the anti-join is built
    log.claim(delta(("d", 4L)), Some("e1"))
    val withE1 = manifest(root)
    assert(TestSpark.countJobs(log.claim(delta(("d", 4L)), Some("e1"))) == 0)
    assert(manifest(root) == withE1)
  }

  test("compactEvery < 1 fails at construction for every streaming store") {
    val root = tmp("reject")
    def rejects(what: String)(build: String => Any): Unit = {
      val dir = s"$root/$what"
      intercept[IllegalArgumentException](build(dir))
      assert(!Files.exists(Paths.get(dir)), s"$what touched disk before failing")
    }
    val docs = Seq((1L, "some text")).toDF("doc_id", "text")
    rejects("snapshots")(new Snapshots(spark, _, kv, compactEvery = 0))
    rejects("claimlog")(new ClaimLog(spark, _, kv, compactEvery = 0))
    rejects("dedup")(new IncrementalDedup(spark, _, 0))
    rejects("embed")(new IncrementalEmbedDedup(spark, _, 0))
    rejects("image")(new IncrementalImageDedup(spark, _, 0))
    rejects("audio")(new IncrementalAudioDedup(spark, _, 0))
    rejects("video")(new IncrementalVideoDedup(spark, _, 0))
    rejects("line")(new IncrementalLineDedup(spark, _, 0))
    rejects("cdc")(new IncrementalCdcDedup(spark, _, compactEvery = 0))
    rejects("split")(new StreamSplit(spark, _, compactEvery = 0))
    rejects("curation")(StreamCuration.curator(spark, docs, _,
      compactEvery = 0))
    rejects("media")(StreamMediaCuration.curator(spark, _, compactEvery = 0))
    rejects("hist")(new StreamValueHist(spark, _, 0))
    rejects("fertility")(new StreamFertility(spark, _, 0))
    rejects("chunks")(new StreamBoilerplate.ChunkCounts(spark, _, 8, 0))
    rejects("cdcchunks")(new StreamBoilerplate.CdcCounts(spark, _,
      compactEvery = 0))
    rejects("card")(new StreamDataCard(spark, _, 0))
    rejects("sessions")(SessionPipeline.start(spark, "fake:whatever", 0L, _,
      s"$root/ck", compactEvery = 0))
    rejects("bm25")(StreamRetrieval.indexMaintainer(spark, _, "doc_id",
      "text", compactEvery = 0))
    rejects("ivf")(StreamVectorIndex.indexMaintainer(spark, _, "id", "vec",
      compactEvery = 0))
    rejects("graph")(StreamGraphIndex.maintainer(spark, _, "id", "vec",
      compactEvery = 0))
  }

  test("a claim store reopened after retract still reads held == 0") {
    val root = tmp("retract")
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val dd = new IncrementalDedup(spark, root)
    dd.init()
    dd.filterAndClaim(Seq((1L, base),
      (3L, "completely different words compose this other sentence here now ok"))
      .toDF("doc_id", "text"), "doc_id", "text").count()
    assert(dd.held(Seq(1L)) == 4L)
    assert(dd.retract(Seq(1L)) == 4L)
    val reopened = new IncrementalDedup(spark, root)
    reopened.init()
    assert(reopened.held(Seq(1L)) == 0L)
    assert(reopened.held(Seq(3L)) == 4L, "retraction touched another claimant")
    assert(reopened.retract(Seq(1L)) == 0L)
  }
}
