package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{Tables, TestSpark}
import graft.TestSpark.countJobs
import graft.pipeline.DataCard

/** Cumulative data card for a live corpus ([[StreamDataCard]]): the
  * additive fields after N observed batches must EQUAL the batch card
  * over the union corpus; replays fold nothing twice; a reopened card
  * resumes; media/funnel reports fold into their sections. */
class StreamDataCardSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def docs = Tables.documents(spark, "/root/testdata/sf0.001")
    .select("doc_id", "text", "lang", "source")

  test("card after N batches ≡ batch card over the union corpus on " +
    "every additive field (counts, mixes, PII, URLs, exact quantiles)") {
    val root = Files.createTempDirectory("graft-scard").toString
    val card = new StreamDataCard(spark, root)
    card.init()
    val rows = docs.orderBy("doc_id").collect()
    val batches = rows.grouped((rows.length / 3) + 1).toSeq
    batches.zipWithIndex.foreach { case (b, i) =>
      card.observe(spark.createDataFrame(
        spark.sparkContext.parallelize(b.toIndexedSeq), docs.schema), i.toLong)
    }
    val streamed = card.card()
    val batch = DataCard.build(docs, "doc_id", "text", "lang", "source")
    assert(streamed.nDocs == batch.nDocs)
    assert(streamed.nTokens == batch.nTokens)
    assert(streamed.nChars == batch.nChars)
    assert(streamed.langDocs == batch.langDocs)
    assert(streamed.sourceDocs == batch.sourceDocs)
    assert(streamed.piiDocs == batch.piiDocs)
    assert(streamed.piiRateMilli == batch.piiRateMilli)
    assert(streamed.urlDocs == batch.urlDocs)
    assert(streamed.linkDensityMilli == batch.linkDensityMilli)
    assert(streamed.tokenQuantiles == batch.tokenQuantiles,
      s"${streamed.tokenQuantiles} != ${batch.tokenQuantiles}")
    // the documented divergence: dedup forensics are the batch card's
    assert(streamed.exactDupGroups == 0L && streamed.nearDupClusters == 0L)
  }

  test("replayed batches fold nothing twice; a reopened card resumes " +
    "from the same state dir") {
    val root = Files.createTempDirectory("graft-scard-replay").toString
    val card = new StreamDataCard(spark, root)
    card.init()
    val b = Seq((1L, "alpha beta gamma", "en", "web"),
      (2L, "delta epsilon", "de", "web"))
      .toDF("doc_id", "text", "lang", "source")
    card.observe(b, 0L)
    card.observe(b, 0L) // crash-replay of the same micro-batch
    val once = card.card()
    assert(once.nDocs == 2L && once.nTokens == 5L, s"$once")
    assert(once.langDocs == Map("en" -> 1L, "de" -> 1L))
    // reopen: counts resume, a new batch adds
    val card2 = new StreamDataCard(spark, root)
    card2.init()
    assert(card2.card() == once)
    card2.observe(Seq((3L, "zeta", "en", "web"))
      .toDF("doc_id", "text", "lang", "source"), 1L)
    val after = card2.card()
    assert(after.nDocs == 3L && after.langDocs("en") == 2L)
    assert(after.tokenQuantiles(50) == 2L, s"${after.tokenQuantiles}")
  }

  test("card() on a two-language card runs 10 Spark jobs; an empty " +
    "card runs none") {
    val root = Files.createTempDirectory("graft-scard-jobs").toString
    val card = new StreamDataCard(spark, root)
    card.init()
    assert(countJobs(card.card()) == 0)
    card.observe(Seq((1L, "alpha beta gamma", "en", "web"),
      (2L, "delta epsilon", "de", "web"))
      .toDF("doc_id", "text", "lang", "source"), 0L)
    var c: DataCard.Card = null
    assert(countJobs { c = card.card() } == 10)
    assert(c.nDocs == 2L && c.tokenQuantiles(50) == 2L, s"$c")
  }

  test("media and funnel reports fold additively; tokenizer totals ride " +
    "the observed batches' n_bpe columns") {
    val root = Files.createTempDirectory("graft-scard-media").toString
    val card = new StreamDataCard(spark, root)
    card.init()
    card.observeMedia(StreamMediaCuration.BatchReport(0L, nBatch = 10L,
      nAfterSize = 9L, nAfterExact = 7L, nAfterImageDedup = 6L,
      nAfterAudioDedup = 5L, nOut = 5L, nAfterVideoDedup = 6L))
    card.observeMedia(StreamMediaCuration.BatchReport(1L, nBatch = 4L,
      nAfterSize = 4L, nAfterExact = 3L, nAfterImageDedup = 3L,
      nAfterAudioDedup = 2L, nOut = 2L, nAfterVideoDedup = 3L))
    // a replayed report folds nothing twice
    card.observeMedia(StreamMediaCuration.BatchReport(1L, nBatch = 4L,
      nAfterSize = 4L, nAfterExact = 3L, nAfterImageDedup = 3L,
      nAfterAudioDedup = 2L, nOut = 2L, nAfterVideoDedup = 3L))
    card.observeFunnel(StreamCuration.BatchReport(0L, nBatch = 10L,
      nAfterUrlGate = -1L, nAfterQuality = 8L, nAfterClassifier = -1L,
      nAfterExact = 7L, nAfterNearDup = 6L, nAfterDecontam = 6L,
      nAfterDomainCap = -1L, nOut = 6L))
    val withBpe = Seq((1L, "alpha beta", "en", "web", 7L, 1L))
      .toDF("doc_id", "text", "lang", "source", "n_bpe_tokens", "n_bpe_unk")
    card.observe(withBpe, 5L)
    val c = card.card(tokenizerShape = Some((30L, 100L)))
    assert(c.media.contains(DataCard.MediaSection(nInput = 14L,
      nAfterSize = 13L, nAfterExact = 10L, nAfterImageDedup = 9L,
      nAfterAudioDedup = 7L, nOut = 7L, nAfterVideoDedup = 9L)), s"$c")
    assert(c.tokenizer.contains(DataCard.TokenizerSection(nMerges = 30L,
      vocabSize = 100L, nBpeTokens = 7L, nUnkPieces = 1L)), s"$c")
    val totals = card.totals().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(totals("funnel.n_out") == 6L && totals("funnel.n_batch") == 10L)
  }

  test("retraction: card after observe(all) + retract(deleted) ≡ batch " +
    "card over the SURVIVORS on every additive field; replays fold " +
    "nothing twice; a fully-retracted lang vanishes from the card") {
    val root = Files.createTempDirectory("graft-scard-forget").toString
    val card = new StreamDataCard(spark, root)
    card.init()
    val rows = docs.orderBy("doc_id").collect()
    rows.grouped((rows.length / 3) + 1).zipWithIndex.foreach {
      case (b, i) => card.observe(spark.createDataFrame(
        spark.sparkContext.parallelize(b.toIndexedSeq), docs.schema),
        i.toLong)
    }
    val deleted = docs.filter(col("doc_id") % 3 === 0)
    card.retract(deleted, eventId = 100L)
    card.retract(deleted, eventId = 100L) // crash-replayed retraction
    val streamed = card.card()
    val survivors = docs.filter(col("doc_id") % 3 =!= 0)
    val batch = DataCard.build(survivors, "doc_id", "text", "lang",
      "source")
    assert(streamed.nDocs == batch.nDocs && streamed.nDocs > 0L)
    assert(streamed.nTokens == batch.nTokens)
    assert(streamed.nChars == batch.nChars)
    assert(streamed.langDocs == batch.langDocs)
    assert(streamed.sourceDocs == batch.sourceDocs)
    assert(streamed.piiDocs == batch.piiDocs)
    assert(streamed.urlDocs == batch.urlDocs)
    assert(streamed.linkDensityMilli == batch.linkDensityMilli)
    assert(streamed.tokenQuantiles == batch.tokenQuantiles,
      s"${streamed.tokenQuantiles} != ${batch.tokenQuantiles}")
    // a lang observed only once vanishes entirely when its doc is
    // retracted (no zero-count residue)
    val root2 = Files.createTempDirectory("graft-scard-vanish").toString
    val c2 = new StreamDataCard(spark, root2)
    c2.init()
    val b = Seq((1L, "alpha beta", "en", "web"),
      (2L, "delta", "xx", "web"))
      .toDF("doc_id", "text", "lang", "source")
    c2.observe(b, 0L)
    c2.retract(b.filter(col("doc_id") === 2L), eventId = 1L)
    val after = c2.card()
    assert(after.langDocs == Map("en" -> 1L), s"${after.langDocs}")
    assert(after.nDocs == 1L && after.tokenQuantiles(50) == 2L)
    // over-retraction fails loud at card() — never a silent negative
    c2.retract(b.filter(col("doc_id") === 2L), eventId = 2L)
    val e = intercept[IllegalArgumentException](c2.card())
    assert(e.getMessage.contains("negative"))
  }
}
