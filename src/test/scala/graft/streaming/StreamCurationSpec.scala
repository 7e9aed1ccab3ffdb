package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{Tables, TestSpark}
import graft.operators.{Decontaminate, Dedup}

/** Streaming curation funnel ([[StreamCuration]]): the batch funnel's
  * invariants must hold over the UNION of a micro-batched stream's
  * outputs, duplicates must be caught across batch boundaries, and a
  * crash-replayed batch must reproduce its exact output. */
class StreamCurationSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def docs = Tables.documents(spark, "/root/testdata/sf0.001")
    .select("doc_id", "text", "source")
  private def evalDocs = docs.filter(col("doc_id") % 13 === 0)
    .select("doc_id", "text")
  private def trainDocs = docs.filter(col("doc_id") % 13 =!= 0)

  test("streamed funnel: cross-batch invariants hold over the union") {
    val stateDir = Files.createTempDirectory("graft-scur").toString
    val curate = StreamCuration.curator(spark, evalDocs, stateDir,
      decontamMinShared = 2)
    val rows = trainDocs.orderBy("doc_id").collect()
    val (b1, b2) = rows.splitAt(rows.length / 2)
    def toDf(part: Array[org.apache.spark.sql.Row]) =
      spark.createDataFrame(
        spark.sparkContext.parallelize(part.toIndexedSeq), trainDocs.schema)
    val out1 = curate(toDf(b1), 0L).select("doc_id", "text").collect()
    val out2 = curate(toDf(b2), 1L).select("doc_id", "text").collect()
    val union = spark.createDataFrame(
      spark.sparkContext.parallelize((out1 ++ out2).toIndexedSeq),
      trainDocs.select("doc_id", "text").schema)
    assert(union.count() > 0)

    // exact contract: no two survivors share a normalized text
    val dupNorm = union
      .groupBy(Dedup.normalized(col("text"))).count().filter(col("count") > 1)
    assert(dupNorm.isEmpty, "two survivors share normalized text")

    // near-dup contract: no surviving LSH-verified pair at the claim tier's
    // banding (any shared band bucket between two survivors)
    val bands = union
      .select(col("doc_id"), graft.functions.MinHashSig(col("text")).as("sig"))
      .filter(col("sig").isNotNull)
      .select(col("doc_id"), explode(array((0 until 4).map { bnd =>
        concat_ws(",", lit(bnd) +:
          (0 until 4).map(r => col("sig").getItem(bnd * 4 + r)): _*)
      }: _*)).as("bkey"))
    val sharedBucket = bands.groupBy("bkey")
      .agg(countDistinct(col("doc_id")).as("n")).filter(col("n") > 1)
    assert(sharedBucket.isEmpty, "two survivors share a band bucket")

    // decontamination contract: no survivor overlaps the eval set at the
    // threshold
    val stillFlagged = Decontaminate.flagged(union, evalDocs,
      "doc_id", "text", minShared = 2)
    assert(stillFlagged.isEmpty, "a survivor still overlaps the eval set")

    // quality contract: no repetitive survivor
    val rs = graft.functions.RepetitionStats(col("text"))
    val rep = union.withColumn("_rs", rs)
      .filter(graft.functions.RepetitionStats.repetitiveFlag(
        col("_rs.n_bigrams"), col("_rs.top_bigram_n"),
        col("_rs.n_trigrams"), col("_rs.n_distinct_trigrams"), 100, 20))
    assert(rep.isEmpty, "a repetitive document survived")
  }

  test("cross-batch duplicate drops; replayed batch reproduces its output") {
    val stateDir = Files.createTempDirectory("graft-scur2").toString
    val curate = StreamCuration.curator(spark, evalDocs, stateDir)
    // docs must clear the repetition gate: >= 12 tokens, all bigrams and
    // trigrams distinct (short texts trip the 10% top-bigram rule)
    val t1 = "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima"
    val t2 = "mike november oscar papa quebec romeo sierra tango uniform victor whiskey xray"
    val t3 = "zulu one two three four five six seven eight nine ten eleven twelve"
    val b1 = Seq((1L, t1, "s0"), (2L, t2, "s0")).toDF("doc_id", "text", "source")
    // batch 2 repeats doc 1's text verbatim under a NEW id, and brings
    // one genuinely new document
    val b2 = Seq((10L, t1, "s0"), (11L, t3, "s0")).toDF("doc_id", "text", "source")
    val out1 = curate(b1, 0L).select("doc_id").as[Long].collect().sorted.toSeq
    assert(out1 == Seq(1L, 2L))
    val out2 = curate(b2, 1L).select("doc_id").as[Long].collect().sorted.toSeq
    assert(out2 == Seq(11L), s"cross-batch duplicate not dropped: $out2")

    // crash-replay of batch 2: same output, and the stores' decisions are
    // unchanged (first-writer-wins claims record the claimant)
    val replay = curate(b2, 1L).select("doc_id").as[Long].collect().sorted.toSeq
    assert(replay == out2, "replayed batch diverged")

    // empty batch is harmless and returns an empty frame of the schema
    val empty = curate(b1.limit(0), 2L)
    assert(empty.isEmpty && empty.columns.toSeq == b1.columns.toSeq)
  }

  test("line-scrub stage: later copies of a claimed line scrub across " +
    "batches, fully-chrome docs drop, replay reproduces, report wired") {
    val stateDir = Files.createTempDirectory("graft-scur-line").toString
    var reports = Vector.empty[StreamCuration.BatchReport]
    val curate = StreamCuration.curator(spark, evalDocs.limit(0), stateDir,
      lineScrub = true,
      // tiny hand docs: disable the top-bigram rule (any 1-bigram doc
      // scores 1000 milli) to isolate the stage under test
      repetitionTopBigramMilli = 1001,
      onReport = Some(r => reports :+= r))
    def texts(df: DataFrame) = df.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val b1 = Seq((1L, "nav home\nalpha beta gamma", "s0"),
                 (2L, "delta epsilon zeta", "s0"))
      .toDF("doc_id", "text", "source")
    val t1 = texts(curate(b1, 0L))
    assert(t1 == Map(1L -> "nav home\nalpha beta gamma",
      2L -> "delta epsilon zeta"), "batch 1 must ship intact (novel lines)")
    val b2 = Seq((3L, "nav home\ntheta iota kappa", "s0"),
                 (4L, "nav home", "s0")) // fully chrome -> must drop
      .toDF("doc_id", "text", "source")
    val t2 = texts(curate(b2, 1L))
    assert(t2 == Map(3L -> "theta iota kappa"),
      s"chrome line must scrub and the all-chrome doc must drop: $t2")
    // crash-replay: the claimant (id,p) is recorded, so the same rows
    // with the same rewrites come back
    val t2r = texts(curate(b2, 1L))
    assert(t2r == t2, "replayed batch diverged under the line stage")
    // report: the stage count sits between exact and near-dup and only
    // engages when the knob is on
    val r2 = reports(1)
    assert(r2.nAfterExact == 2 && r2.nAfterLineScrub == 1 &&
      r2.nAfterNearDup == 1, s"report miswired: $r2")
    assert(reports(0).nAfterLineScrub == 2)
  }

  test("lengthHist telemetry: the state dir accumulates the exact token " +
    "histogram of the SHIPPED corpus across batches") {
    val stateDir = Files.createTempDirectory("graft-scur-hist").toString
    val curate = StreamCuration.curator(spark, evalDocs.limit(0), stateDir,
      lengthHist = true, repetitionTopBigramMilli = 1001)
    val b1 = Seq((1L, "a b c", "s0"), (2L, "d e", "s0"))
      .toDF("doc_id", "text", "source")
    val b2 = Seq((3L, "f g h i", "s0"), (4L, "a b c", "s0")) // dup of 1
      .toDF("doc_id", "text", "source")
    val out1 = curate(b1, 0L).collect()
    val out2 = curate(b2, 1L).collect()
    assert(out1.length == 2 && out2.length == 1, "doc 4 must exact-dedup")
    // shipped token counts: 3, 2, 4 -> histogram {2:1, 3:1, 4:1}
    val h = new StreamValueHist(spark, s"$stateDir/lenhist")
    h.init()
    val hist = h.hist().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hist == Map(2L -> 1L, 3L -> 1L, 4L -> 1L), s"got $hist")
    // replayed batch leaves the histogram untouched (batch-id token)
    curate(b2, 1L).count()
    val h2 = new StreamValueHist(spark, s"$stateDir/lenhist")
    h2.init()
    assert(h2.hist().agg(sum(col("c"))).head().getLong(0) == 3L)
  }

  test("winnow decontamination probe: the fold-once eval fingerprint set " +
    "drops run-carrying docs in every batch; replay reproduces") {
    val stateDir = Files.createTempDirectory("graft-scur-win").toString
    val run = "w1 w2 w3 w4 w5 w6"
    val eval = Seq((100L, s"$run extra tail")).toDF("doc_id", "text")
    val curate = StreamCuration.curator(spark, eval, stateDir,
      decontamWinnowShared = Some(1), repetitionTopBigramMilli = 1001)
    val b1 = Seq((1L, s"alpha beta $run gamma", "s0"),
                 (2L, "clean one two three", "s0"))
      .toDF("doc_id", "text", "source")
    val out1 = curate(b1, 0L).select("doc_id").as[Long].collect().toSet
    assert(out1 == Set(2L), s"batch-1 run carrier survived: $out1")
    val b2 = Seq((3L, s"$run again later batch", "s0"),
                 (4L, "still clean four five six", "s0"))
      .toDF("doc_id", "text", "source")
    val out2 = curate(b2, 1L).select("doc_id").as[Long].collect().toSet
    assert(out2 == Set(4L), s"batch-2 run carrier survived: $out2")
    assert(curate(b2, 1L).select("doc_id").as[Long].collect().toSet == out2,
      "replay diverged under the winnow probe")
  }

  test("winnow-SCRUB decontamination probe: the fold-once positioned " +
    "fingerprint set masks matched spans per batch, bystanders " +
    "byte-identical, replay reproduces; precedence over winnow-drop") {
    val stateDir = Files.createTempDirectory("graft-scur-wscrub").toString
    val run = "w1 w2 w3 w4 w5 w6 w7 w8"
    val eval = Seq((100L, s"$run extra tail")).toDF("doc_id", "text")
    val curate = StreamCuration.curator(spark, eval, stateDir,
      decontamWinnowScrub = Some(1), repetitionTopBigramMilli = 1001)
    val b1 = Seq((1L, s"alpha beta $run gamma", "s0"),
                 (2L, "clean\tone  two three", "s0")) // odd whitespace
      .toDF("doc_id", "text", "source")
    val out1 = curate(b1, 0L).select("doc_id", "text").as[(Long, String)]
      .collect().toMap
    assert(out1.keySet == Set(1L, 2L),
      s"scrub must keep the rewritten carrier: ${out1.keySet}")
    assert(!out1(1L).contains("w3") && out1(1L).startsWith("alpha beta"),
      s"run interior not masked: ${out1(1L)}")
    assert(out1(2L) == "clean\tone  two three",
      s"bystander not byte-identical: '${out1(2L)}'")
    // replay: stateless rewrite, identical output
    val replay = curate(b1, 0L).select("doc_id", "text").as[(Long, String)]
      .collect().toMap
    assert(replay == out1, "replay diverged under the winnow scrub")
    // precedence: scrub wins when the drop knob is also set
    val stateDir2 = Files.createTempDirectory("graft-scur-wprec").toString
    val curate2 = StreamCuration.curator(spark, eval, stateDir2,
      decontamWinnowScrub = Some(1), decontamWinnowShared = Some(1),
      repetitionTopBigramMilli = 1001)
    val both = curate2(b1, 0L).select("doc_id").as[Long].collect().toSet
    assert(both == Set(1L, 2L), s"scrub must win over the drop: $both")
  }

  test("bpeTokenizer knob: shipped rows carry token_ids + n_bpe_tokens " +
    "under the frozen artifact, bitwise equal to a direct encode; " +
    "replay identical") {
    val stateDir = Files.createTempDirectory("graft-scur-bpe").toString
    val b1 = Seq((1L, "aa bb aa cc", "s0"), (2L, "dd ee", "s0"))
      .toDF("doc_id", "text", "source")
    val merges = graft.operators.Bpe.train(b1, "text", numMerges = 6)
    val vocab = graft.operators.Bpe.vocabOf(
      graft.operators.Bpe.alphabetOf(b1, "text"), merges)
    val curate = StreamCuration.curator(spark, evalDocs.limit(0), stateDir,
      bpeTokenizer = Some((merges, vocab)),
      repetitionTopBigramMilli = 1001)
    val out = curate(b1, 0L)
    assert(out.columns.contains("token_ids") &&
      out.columns.contains("n_bpe_tokens"))
    val got = out.select("doc_id", "token_ids").as[(Long, Seq[Long])]
      .collect().toMap
    val want = graft.operators.Bpe.encode(b1, "doc_id", "text", merges,
      vocab).select("doc_id", "token_ids").as[(Long, Seq[Long])]
      .collect().toMap
    assert(got == want, s"stream encode diverged: $got vs $want")
    val replay = curate(b1, 0L).select("doc_id", "token_ids")
      .as[(Long, Seq[Long])].collect().toMap
    assert(replay == got, "replay diverged under the frozen tokenizer")
    // frozen-tokenizer drift telemetry: the batch report's nBpeUnk
    // reads 0 on the vocab's own corpus and the exact OOV-piece total
    // when new text carries unseen code points
    var reports = Vector.empty[StreamCuration.BatchReport]
    val curate2 = StreamCuration.curator(spark, evalDocs.limit(0),
      stateDir + "-unk", bpeTokenizer = Some((merges, vocab)),
      repetitionTopBigramMilli = 1001,
      onReport = Some(r => reports :+= r))
    curate2(b1, 0L).count()
    assert(reports.head.nBpeUnk == 0L,
      s"own-corpus batch must report 0 unk: ${reports.head}")
    val drift = Seq((9L, "aa 世界", "s0")).toDF("doc_id", "text", "source")
    curate2(drift, 1L).count()
    val direct = graft.operators.Bpe.encode(drift, "doc_id", "text",
      merges, vocab).agg(org.apache.spark.sql.functions.sum("n_unk"))
      .head().getLong(0)
    assert(direct > 0L && reports(1).nBpeUnk == direct,
      s"drift batch must report the exact OOV total: ${reports(1)} vs $direct")
    // report field stays -1 when no tokenizer is attached
    var r3 = Vector.empty[StreamCuration.BatchReport]
    val curate3 = StreamCuration.curator(spark, evalDocs.limit(0),
      stateDir + "-notok", repetitionTopBigramMilli = 1001,
      onReport = Some(r => r3 :+= r))
    curate3(b1, 0L).count()
    assert(r3.head.nBpeUnk == -1L)
  }

  test("unigramTokenizer knob: the funnel ships unigram ids through " +
    "the same seam — bitwise equal to a direct encode, pack separator " +
    "= |pieces|, families mutually exclusive") {
    val stateDir = Files.createTempDirectory("graft-scur-uni").toString
    val b1 = Seq((1L, "aa bb aa cc", "s0"), (2L, "dd ee aa", "s0"))
      .toDF("doc_id", "text", "source")
    val model = graft.operators.Unigram.train(b1, "text",
      graft.operators.Unigram.Knobs(maxPieceSyms = 3, minSeedCount = 2L,
        seedSize = 50, emRounds = 1, vocabTarget = 10, postEmRounds = 1))
    var packs = Vector.empty[(Long, Seq[Long])]
    val curate = StreamCuration.curator(spark, evalDocs.limit(0), stateDir,
      unigramTokenizer = Some(model),
      bpePackBudget = Some(8L),
      onPackStreams = Some((df, _) => packs = df
        .select("pack_id", "token_ids").as[(Long, Seq[Long])]
        .collect().toVector),
      repetitionTopBigramMilli = 1001)
    val out = curate(b1, 0L)
    val got = out.select("doc_id", "token_ids").as[(Long, Seq[Long])]
      .collect().toMap
    val want = graft.operators.Unigram.encode(b1, "doc_id", "text", model)
      .select("doc_id", "token_ids").as[(Long, Seq[Long])]
      .collect().toMap
    assert(got == want, s"stream unigram encode diverged: $got vs $want")
    // the emitted pack streams use |pieces| as the separator id
    val sep = model.pieces.length.toLong
    assert(packs.nonEmpty && packs.flatMap(_._2).contains(sep),
      s"pack stream missing the unigram separator $sep: $packs")
    packs.flatMap(_._2).foreach(t => assert(t <= sep, s"id $t past sep"))
    // one family per funnel
    val merges = graft.operators.Bpe.train(b1, "text", numMerges = 3)
    val vocab = graft.operators.Bpe.vocabOf(
      graft.operators.Bpe.alphabetOf(b1, "text"), merges)
    val e = intercept[IllegalArgumentException] {
      StreamCuration.curator(spark, evalDocs.limit(0), stateDir + "-x",
        bpeTokenizer = Some((merges, vocab)),
        unigramTokenizer = Some(model),
        repetitionTopBigramMilli = 1001)
    }
    assert(e.getMessage.contains("mutually exclusive"))
  }

  test("unigramSampleK knob: the funnel ships REGULARIZED shards — " +
    "bitwise equal to encodeSampled over the kept rows, salt-replayable, " +
    "and the pack streams pack the sampled footprints") {
    val stateDir = Files.createTempDirectory("graft-scur-smp").toString
    val b1 = Seq((1L, "aa bb aa cc aa bb", "s0"), (2L, "dd ee aa bb", "s0"))
      .toDF("doc_id", "text", "source")
    val model = graft.operators.Unigram.train(b1, "text",
      graft.operators.Unigram.Knobs(maxPieceSyms = 3, minSeedCount = 2L,
        seedSize = 50, emRounds = 1, vocabTarget = 10, postEmRounds = 1))
    var packs = Vector.empty[(Long, Seq[Long])]
    val curate = StreamCuration.curator(spark, evalDocs.limit(0), stateDir,
      unigramTokenizer = Some(model),
      unigramSampleK = 4, unigramSampleSalt = "e7",
      bpePackBudget = Some(8L),
      onPackStreams = Some((df, _) => packs = df
        .select("pack_id", "token_ids").as[(Long, Seq[Long])]
        .collect().toVector),
      repetitionTopBigramMilli = 1001)
    val got = curate(b1, 0L).select("doc_id", "token_ids")
      .as[(Long, Seq[Long])].collect().toMap
    val want = graft.operators.Unigram.encodeSampled(b1, "doc_id", "text",
      model, k = 4, salt = "e7")
      .select("doc_id", "token_ids").as[(Long, Seq[Long])]
      .collect().toMap
    assert(got == want, s"funnel sampled encode diverged: $got vs $want")
    // the emitted pack streams carry the SAMPLED token footprints
    val sep = model.pieces.length.toLong
    val packedPerDoc = packs.flatMap(_._2).filter(_ != sep).size
    assert(packedPerDoc == want.values.map(_.size).sum,
      s"pack streams do not pack the sampled footprints: $packs")
    // same salt replays bit for bit (the funnel's replay contract);
    // a NEW salt re-draws — the epoch discipline
    val curateReplay = StreamCuration.curator(spark, evalDocs.limit(0),
      stateDir, unigramTokenizer = Some(model),
      unigramSampleK = 4, unigramSampleSalt = "e7",
      repetitionTopBigramMilli = 1001)
    val replay = curateReplay(b1, 0L).select("doc_id", "token_ids")
      .as[(Long, Seq[Long])].collect().toMap
    assert(replay == got)
    // k > 1 without a unigram model fails loud
    val e = intercept[IllegalArgumentException] {
      StreamCuration.curator(spark, evalDocs.limit(0), stateDir + "-x",
        unigramSampleK = 2, repetitionTopBigramMilli = 1001)
    }
    assert(e.getMessage.contains("unigramSampleK"))
  }

  test("bpePackBudget twin: per-batch pack streams match a direct " +
    "packTokenStreams over the shipped ids (separator = |vocab|), and " +
    "replay emits identical streams") {
    val stateDir = Files.createTempDirectory("graft-scur-pack").toString
    val b1 = Seq((1L, "aa bb aa cc", "s0"), (2L, "dd ee", "s0"),
      (3L, "aa aa bb bb cc", "s0")).toDF("doc_id", "text", "source")
    val merges = graft.operators.Bpe.train(b1, "text", numMerges = 6)
    val vocab = graft.operators.Bpe.vocabOf(
      graft.operators.Bpe.alphabetOf(b1, "text"), merges)
    val emitted = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Map[Long, (Seq[Long], Long, Long)])]
    val curate = StreamCuration.curator(spark, evalDocs.limit(0), stateDir,
      bpeTokenizer = Some((merges, vocab)),
      bpePackBudget = Some(9L),
      onPackStreams = Some((df, bid) => emitted +=
        bid -> df.collect().map(r => r.getLong(0) ->
          ((r.getSeq[Long](1), r.getLong(2), r.getLong(3)))).toMap),
      repetitionTopBigramMilli = 1001)
    val shipped = curate(b1, 0L).localCheckpoint(true)
    assert(emitted.size == 1 && emitted.head._1 == 0L)
    // direct twin over the SHIPPED rows, same shard/order/sep convention
    val want = graft.operators.Packing.packTokenStreams(
      shipped.select(col("doc_id"), col("token_ids"))
        .withColumn("_pack_shard", org.apache.spark.sql.functions.lit(0L)),
      "_pack_shard", "doc_id", "token_ids", 9L, vocab.length.toLong)
      .collect().map(r => r.getLong(0) ->
        ((r.getSeq[Long](1), r.getLong(2), r.getLong(3)))).toMap
    assert(emitted.head._2 == want, s"${emitted.head._2} vs $want")
    assert(emitted.head._2.values.exists(_._1.contains(vocab.length.toLong)),
      "separator id must appear in the streams")
    curate(b1, 0L).count()
    assert(emitted.size == 2 && emitted(1)._2 == emitted.head._2,
      "replayed batch must emit identical pack streams")
    // budget without tokenizer refuses at construction
    intercept[IllegalArgumentException] {
      StreamCuration.curator(spark, evalDocs.limit(0), stateDir + "x",
        bpePackBudget = Some(9L))
    }
  }

  test("funnel composed with the VERIFIED embed tier: drops only certified " +
    "embedding near-dups, passes NULL vectors, replays stable") {
    val stateDir = Files.createTempDirectory("graft-scur3").toString
    val curate = StreamCuration.curator(spark, evalDocs, stateDir,
      vecCol = Some("vec"), embedMinCos = 0.9)
    def words(seed: Int) = (0 until 12).map(i => s"w${seed}_$i").mkString(" ")
    // deterministic 32-d fixtures (same dim as the random batch below,
    // so every cross-claim cosine is well-formed)
    val seedRnd = new scala.util.Random(42)
    val v1 = Seq.fill(32)(seedRnd.nextGaussian())
    val v2 = Seq.fill(32)(seedRnd.nextGaussian())
    val v3 = Seq.fill(32)(seedRnd.nextGaussian())
    val b1 = Seq(
      (1L, words(1), "s0", Some(v1)),
      (2L, words(2), "s0", Some(v2))).toDF("doc_id", "text", "source", "vec")
    val out1 = curate(b1, 0L).select("doc_id").as[Long].collect().sorted.toSeq
    assert(out1 == Seq(1L, 2L))
    // batch 2: doc 10 = NEW text but vector ≈ v1 (×1.001 scale, cosine 1)
    // → the embed stage must drop it via the verified claim; doc 11 = new
    // text + distinct vector → kept; doc 12 = new text + NULL vector →
    // passes through; doc 14 = new text, vector ≈ doc 11's within the
    // batch → min-id policy keeps 11, drops 14
    val b2 = Seq(
      (10L, words(10), "s0", Some(v1.map(_ * 1.001))),
      (11L, words(11), "s0", Some(v3)),
      (12L, words(12), "s0", None),
      (14L, words(14), "s0", Some(v3.map(_ * 0.999)))
    ).toDF("doc_id", "text", "source", "vec")
    val out2 = curate(b2, 1L).select("doc_id").as[Long].collect().sorted.toSeq
    assert(out2 == Seq(11L, 12L), s"embed stage mis-dropped: $out2")
    // crash-replay: identical output, stores unchanged
    val replay = curate(b2, 1L).select("doc_id").as[Long].collect().sorted.toSeq
    assert(replay == out2, "replayed composed batch diverged")
    // a batch of UNRELATED vectors must not shrink (no band-collision
    // false drops — the round-8 defect this tier's verify eliminates)
    val rnd = new scala.util.Random(7)
    val b3 = (100L until 140L).map { i =>
      (i, words(i.toInt), "s0", Some(Seq.fill(32)(rnd.nextGaussian())))
    }.toDF("doc_id", "text", "source", "vec")
    val out3 = curate(b3, 2L).select("doc_id").as[Long].collect().sorted.toSeq
    assert(out3 == (100L until 140L).toSeq,
      s"unrelated vectors were dropped: ${out3.size}/40 survived")
  }

  test("piiRedact stage: redacted twins claim the same exact key across " +
    "batches; output text is redacted") {
    val stateDir = Files.createTempDirectory("graft-scur-pii").toString
    val curate = StreamCuration.curator(spark,
      Seq.empty[(Long, String)].toDF("doc_id", "text"), stateDir,
      repetitionTopBigramMilli = 500, // short fixture docs (~7 bigrams)
      piiRedact = true)
    val b1 = Seq(
      (1L, "contact alice at a@b.co regarding quarterly report deadline", "s0"),
      (2L, "totally unrelated words compose this other document now", "s0")
    ).toDF("doc_id", "text", "source")
    val out1 = curate(b1, 0L).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out1.keySet == Set(1L, 2L))
    assert(out1(1L).contains("<EMAIL>") && !out1(1L).contains("@"),
      s"PII survived: ${out1(1L)}")
    // batch 2: same document modulo a DIFFERENT email — the redacted
    // form is identical, so the exact-claim store must drop it
    val b2 = Seq(
      (3L, "contact alice at x@y.org regarding quarterly report deadline", "s0")
    ).toDF("doc_id", "text", "source")
    val out2 = curate(b2, 1L).select("doc_id").as[Long].collect().toSeq
    assert(out2.isEmpty,
      s"cross-batch redacted twin survived the claim store: $out2")
  }

  test("URL gate: blocklisted and link-farm docs drop per micro-batch " +
    "exactly like the batch funnel's stage 0b") {
    val stateDir = Files.createTempDirectory("graft-scur-url").toString
    val curate = StreamCuration.curator(spark,
      Seq.empty[(Long, String)].toDF("doc_id", "text"), stateDir,
      repetitionTopBigramMilli = 1000,
      urlBlocklist = Seq("spam.net"), maxLinkDensityMilli = Some(500))
    val b1 = Seq(
      (1L, "clean document with plain words one two three four", "s0"),
      (2L, "see http://fine.example.com/page for useful details here", "s0"),
      (3L, "spam here http://track.SPAM.net/x buy now cheap stuff", "s0"),
      (4L, "http://a.io/1 http://a.io/2 http://a.io/3 http://a.io/4 x", "s0")
    ).toDF("doc_id", "text", "source")
    val out = curate(b1, 0L).select("doc_id").as[Long].collect().toSet
    assert(out == Set(1L, 2L), s"URL gate kept wrong docs: $out")
  }

  test("domain cap under ingestion: the shipped union never exceeds " +
    "the cap per domain, later batches only claim the headroom, " +
    "no-URL docs are exempt, and a crash-replayed batch reproduces " +
    "its output without double-claiming") {
    val stateDir = Files.createTempDirectory("graft-scur-cap").toString
    val curate = StreamCuration.curator(spark,
      Seq.empty[(Long, String)].toDF("doc_id", "text"), stateDir,
      repetitionTopBigramMilli = 1000, domainCap = Some(2))
    // every token carries the doc id: zero shared shingles, so the
    // upstream near-dup CLAIMS tier (band-level, deliberately not
    // exact-verified) cannot be the thing that drops a doc here
    def doc(i: Long, dom: String) =
      (i, s"alpha$i bravo$i charlie$i delta$i echo$i " +
        s"foxtrot$i golf$i http://$dom/page$i", "s0")
    val b1 = (Seq(doc(1, "big.example.com"), doc(2, "big.example.com"),
      doc(3, "big.example.com")) :+ ((10L, "no links in this one", "s0")))
      .toDF("doc_id", "text", "source")
    val out1 = curate(b1, 0L).select("doc_id").as[Long].collect().toSet
    assert((out1 - 10L).size == 2, s"batch 1 must ship 2 capped docs: $out1")
    assert(out1.contains(10L), "no-URL doc must be exempt")
    // batch 2: same domain is exhausted; a fresh domain claims freely
    val b2 = (Seq(doc(4, "big.example.com"), doc(5, "big.example.com"),
      doc(6, "other.org"))).toDF("doc_id", "text", "source")
    val out2 = curate(b2, 1L).select("doc_id").as[Long].collect().toSet
    assert(out2 == Set(6L),
      s"exhausted domain must ship nothing; fresh domain ships: $out2")
    // replay of batch 1: exact same output, and batch 2's view of the
    // store is unchanged (no double-claims) — run b2 again to prove the
    // headroom did not reopen
    val out1r = curate(b1, 0L).select("doc_id").as[Long].collect().toSet
    assert(out1r == out1, "replay changed the shipped set")
    val out2r = curate(b2, 1L).select("doc_id").as[Long].collect().toSet
    assert(out2r == out2, "replay reopened claimed headroom")
  }

  test("per-batch funnel report: counts monotone along the stage " +
    "order, off stages read -1, nOut matches the shipped batch") {
    val stateDir = Files.createTempDirectory("graft-scur-rep").toString
    val buf = scala.collection.mutable.ArrayBuffer
      .empty[StreamCuration.BatchReport]
    val curate = StreamCuration.curator(spark,
      Seq.empty[(Long, String)].toDF("doc_id", "text"), stateDir,
      repetitionTopBigramMilli = 1000,
      urlBlocklist = Seq("spam.net"), domainCap = Some(2),
      onReport = Some(buf += _))
    def doc(i: Long, dom: String) =
      (i, s"alpha$i bravo$i charlie$i delta$i echo$i " +
        s"foxtrot$i golf$i http://$dom/page$i", "s0")
    val b = (Seq(doc(1, "big.example.com"), doc(2, "big.example.com"),
      doc(3, "big.example.com"), doc(4, "track.spam.net")) :+
      ((10L, "no links in this one", "s0")))
      .toDF("doc_id", "text", "source")
    val shipped = curate(b, 7L).select("doc_id").as[Long].collect().toSet
    assert(buf.size == 1)
    val r = buf.head
    assert(r.batchId == 7L && r.nBatch == 5L)
    assert(r.nAfterUrlGate == 4L, s"blocklist drop not counted: $r")
    assert(r.nAfterClassifier == -1L, "off stage must report -1")
    assert(r.nAfterDomainCap == 3L, s"cap count wrong: $r")
    assert(r.nOut == shipped.size.toLong, s"nOut != shipped: $r")
    val funnel = Seq(r.nBatch, r.nAfterUrlGate, r.nAfterQuality,
      r.nAfterExact, r.nAfterNearDup, r.nAfterDecontam,
      r.nAfterDomainCap, r.nOut).filter(_ >= 0)
    assert(funnel.zip(funnel.tail).forall { case (a, c) => a >= c },
      s"funnel counts must be monotone non-increasing: $funnel")
    // off by default: no counting, no callbacks
    val stateDir2 = Files.createTempDirectory("graft-scur-rep2").toString
    val silent = StreamCuration.curator(spark,
      Seq.empty[(Long, String)].toDF("doc_id", "text"), stateDir2,
      repetitionTopBigramMilli = 1000)
    silent(b, 0L).count()
    assert(buf.size == 1, "a curator without a sink must not report")
  }

  test("classifier gate: the frozen weight artifact drops per " +
    "micro-batch exactly like the batch funnel's stage, and slicing " +
    "cannot change a verdict (stateless scoring)") {
    val stateDir = Files.createTempDirectory("graft-scur-cls").toString
    val b = 1024
    val bkt = Seq("alpha", "beta", "uno", "dos").toDF("w")
      .select(col("w"),
        (graft.functions.TextAnalysis.strHash(col("w")) % b).cast("int")
          .as("bb"))
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    val w = IndexedSeq.tabulate(b) { i =>
      if (Seq("alpha", "beta").exists(bkt(_) == i)) 500L
      else if (Seq("uno", "dos").exists(bkt(_) == i)) -500L else 0L
    }
    val curate = StreamCuration.curator(spark,
      Seq.empty[(Long, String)].toDF("doc_id", "text"), stateDir,
      repetitionTopBigramMilli = 1000, classifierWeights = Some(w))
    val rows = Seq(
      (1L, "alpha beta alpha words here", "s0"),
      (2L, "uno dos uno dos uno", "s0"),
      (3L, "different clean text entirely", "s0"),
      (4L, "dos uno dos flood spam", "s0"))
    val oneShot = curate(rows.toDF("doc_id", "text", "source"), 0L)
      .select("doc_id").as[Long].collect().toSet
    assert(oneShot == Set(1L, 3L), s"gate kept wrong docs: $oneShot")
    // a different slicing over a FRESH state dir: same verdicts per doc
    val stateDir2 = Files.createTempDirectory("graft-scur-cls2").toString
    val curate2 = StreamCuration.curator(spark,
      Seq.empty[(Long, String)].toDF("doc_id", "text"), stateDir2,
      repetitionTopBigramMilli = 1000, classifierWeights = Some(w))
    val sliced = curate2(rows.take(2).toDF("doc_id", "text", "source"), 0L)
      .select("doc_id").as[Long].collect().toSet ++
      curate2(rows.drop(2).toDF("doc_id", "text", "source"), 1L)
        .select("doc_id").as[Long].collect().toSet
    assert(sliced == oneShot, "batch slicing changed a classifier verdict")
  }

  test("retraction: deleting a claimant document clears its exact AND " +
    "near-dup claims through the funnel entry point; the recrawled copy " +
    "ships again") {
    val stateDir = Files.createTempDirectory("graft-scur-retract").toString
    val curate = StreamCuration.curator(spark, evalDocs.limit(0), stateDir,
      repetitionTopBigramMilli = 1000)
    val text = "the quick brown fox jumps over the lazy dog again today fine"
    val other = "completely different words compose this other sentence here ok"
    assert(curate(Seq((1L, text, "a"), (2L, other, "a"))
      .toDF("doc_id", "text", "source"), 0L).count() == 2)
    // exact copy and near-dup copy both drop against claimant 1
    assert(curate(Seq((11L, text, "a"))
      .toDF("doc_id", "text", "source"), 1L).count() == 0)
    // takedown of doc 1: exact + near-dup claims clear; doc 2's stand
    val removed = StreamCuration.retract(spark, stateDir, Seq(1L))
    assert(removed == 5L, s"removed $removed (want 1 exact + 4 bands)")
    // the recrawled copy ships and re-claims; a later copy drops again
    assert(curate(Seq((21L, text, "a"))
      .toDF("doc_id", "text", "source"), 2L).count() == 1)
    assert(curate(Seq((31L, text, "a"))
      .toDF("doc_id", "text", "source"), 3L).count() == 0)
  }
}
